"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship mention-detection + evidence query on sf0.001;
``queries``/``oracle_sql`` expose one entry per implemented operator from
SURVEY.md §2 (IDs cited per query), each checked against DuckDB on the
driver's parquet testdata at sf0.01.

Conventions shared by every (query, oracle) pair so the driver's
row-count / schema / value-hash comparison is exact:
- every computed column is aliased identically on both sides;
- money/metric sums go through DECIMAL(18,2) then cast to DOUBLE
  (order-insensitive exact addition, identical binary doubles);
- similarity scores are rounded (4–6 dp) on both sides;
- counts/ranks are cast to BIGINT on both sides;
- timestamps serialize through UTC date-strings, never raw timestamps;
- hashing uses md5/sha256 lowercase hex — identical in Spark and DuckDB.
"""

from __future__ import annotations

import contextlib
import functools
import os
from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A testdata table, read as written: no repartition here. The
    map-heavy operators spread their own input (see
    ``sssom_curator_spark.fan_out``); shuffle-first queries gain nothing
    from an extra exchange in front of their first one.

    Parquet schema inference runs a one-task job per read, so the schema
    of each table is inferred once per session and reused after that.
    The session time zone is pinned to UTC for sessions built elsewhere,
    so timestamp semantics match the DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(_schema(spark, path)).parquet(path)


@functools.cache
def _schema(spark: SparkSession, path: str) -> StructType:
    return spark.read.parquet(path).schema


def _dec_sum(col: str, alias: str) -> F.Column:
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


_EN_STOP = ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"]

# PII patterns shared verbatim with the DuckDB oracle (Java regex ∩ RE2).
from sssom_curator_spark.functions.pii_ops import PII_PATTERNS as _PII_PATTERNS

_PII_EMAIL = _PII_PATTERNS["email"][0]
_PII_IPV4 = _PII_PATTERNS["ipv4"][0]
_PII_PHONE = _PII_PATTERNS["phone"][0]


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Aho–Corasick mention detection of part-label entities in
    the documents corpus + per-entity corpus evidence (SURVEY.md J2 + A-
    family; pipeline stages 3–4)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    part = _t(spark, sf_dir, "part")
    from sssom_curator_spark.functions.text_norm import norm_text_col
    from sssom_curator_spark.operators.grounding import annotate_mentions

    pw = (
        part.select(F.explode(F.split("p_name", " ")).alias("name"))
        .distinct()
        .select(F.lit("PW").alias("prefix"), F.col("name").alias("identifier"), "name")
    )
    pt = (
        part.select(F.lower("p_type").alias("name"))
        .distinct()
        .select(F.lit("PT").alias("prefix"), F.col("name").alias("identifier"), "name")
    )
    labels = pw.union(pt).withColumn("norm_text", norm_text_col("name"))
    mentions = annotate_mentions(
        docs.withColumn("doc_id", F.col("doc_id").cast("string")),
        labels,
        id_col="doc_id",
        text_col="text",
    )
    return (
        mentions.groupBy("surface", "object_id")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
        .orderBy(F.desc("n_docs"), "object_id")
    )


# --------------------------------------------------------------------------
# oracle-checked queries
# --------------------------------------------------------------------------


def q_prefix_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: order-insensitive pair counter (export/summary.py:72-80)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.least("l_returnflag", "l_linestatus").alias("source_key"),
            F.greatest("l_returnflag", "l_linestatus").alias("target_key"),
        )
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


def q_conjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: conjunctive predicate stack (repository.py:1079-1108 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_returnflag").isin(["A", "R"])
            & (F.col("l_quantity") >= 25)
            & (F.col("l_discount") < 0.05)
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum("l_extendedprice", "revenue"))
    )


def q_confidence_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: threshold filter (predict/embedding.py:53-54)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value") >= 50.0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum("value", "total_value"))
    )


def q_state_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+O2: contains-predicate + sort + offset/limit pagination
    (web/utils.py:23-27,60-76)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.lower(F.col("o_orderpriority")).contains("urgent"))
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .offset(5)
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_grounding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 shape: probe side joined against a broadcast dimension
    (predict/lexical.py:256-310 → broadcast hash join)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_items"), _dec_sum("l_quantity", "sum_qty"))
    )


def q_all_by_all_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: all-by-all self-join within equal-normalized-text buckets across
    namespaces (predict/lexical.py:200-244, tests/test_lexical.py:24-39)."""
    from sssom_curator_spark.functions.text_norm import norm_text_col
    from sssom_curator_spark.operators.grounding import all_by_all

    part = _t(spark, sf_dir, "part")
    pw = (
        part.select(F.explode(F.split("p_name", " ")).alias("name"))
        .distinct()
        .select(F.lit("PW").alias("prefix"), F.col("name").alias("identifier"), "name")
    )
    pt = (
        part.select(F.lower("p_type").alias("name"))
        .distinct()
        .select(F.lit("PT").alias("prefix"), F.col("name").alias("identifier"), "name")
    )
    labels = pw.union(pt).withColumn("norm_text", norm_text_col("name"))
    return all_by_all(labels).select("subject_id", "object_id")


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: left-anti exclusion (predict/lexical.py:506-521 shape).

    The excluded side is the URGENT-priority orders: at sf0.01 every
    customer has *some* order (the all-orders variant matched zero rows —
    a vacuous 0 = 0 oracle, VERDICT r03), but hundreds have no urgent
    one, so this row pins nonzero anti-join semantics."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: target-set membership as a semi-join (web/backends/base.py:41)."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return (
        supp.join(li, supp["s_suppkey"] == li["l_suppkey"], "left_semi")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: repository merge as unionByName (export/merge.py:140-145)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("value") >= 80.0)
    b = ev.filter(F.col("event_type") == "error")
    return a.unionByName(b).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: drop-duplicates on the canonical tuple (constants.py:107)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q_canonical_sort_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: canonical total sort, pinned via a deterministic page
    (predict/lexical.py:170, testing.py:161-195)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
        .limit(30)
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 shape: explode + count (export/summary.py:83-99)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 stable pagination idiom: row_number window (SURVEY.md §2.5)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped tumbling window aggregation in batch (SURVEY.md
    §2.9); hour keys serialize as UTC strings."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum("value", "total_value"))
    )


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, hour) event-rate z-scores (operators/temporal.py) —
    the burst/stall monitoring query over the events stream."""
    from sssom_curator_spark.operators.temporal import rate_anomaly

    ev = _t(spark, sf_dir, "events")
    return rate_anomaly(ev)


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase (operators/temporal.py):
    greedy earliest-completion matching, per-step user-keyed min aggs."""
    from sssom_curator_spark.operators.temporal import funnel_conversion

    ev = _t(spark, sf_dir, "events")
    return funnel_conversion(ev, ["view", "click", "purchase"])


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events (operators/temporal.py):
    first-event cohorts, epoch-exact week offsets, per-cohort rates."""
    from sssom_curator_spark.operators.temporal import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev)


def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation — F.window with a slide
    shorter than the size, so every event lands in size/slide overlapping
    windows (SURVEY.md §2.9; the same expression is streaming-capable).
    The oracle replays the window assignment with epoch arithmetic."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum("value", "total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: large-star/small-star CC vs a recursive-CTE closure oracle
    (export/charts.py:46-66 re-expressed for scale)."""
    from sssom_curator_spark.graph.components import connected_components

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.filter(F.col("l_orderkey") < 400)
        .select(
            F.concat(F.lit("a"), (F.col("l_orderkey") % 97).cast("string")).alias("src"),
            F.concat(F.lit("b"), (F.col("l_partkey") % 101).cast("string")).alias("dst"),
        )
        .distinct()
    )
    # small_graph_threshold=0: exercise the distributed path (local
    # contraction, then star rounds) against the recursive-CTE oracle (the
    # fast path is tested in pytest)
    return connected_components(edges, small_graph_threshold=0)


def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 canonicalization: rewrite edge endpoints to their component
    representative (north rule: union-find over exactMatch edges
    collapses equivalent CURIEs; graph/components.py
    ``canonicalize_mappings``)."""
    from sssom_curator_spark.graph.components import (
        canonicalize_mappings,
        connected_components,
    )

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.filter(F.col("l_orderkey") < 400)
        .select(
            F.concat(F.lit("a"), (F.col("l_orderkey") % 97).cast("string")).alias("src"),
            F.concat(F.lit("b"), (F.col("l_partkey") % 101).cast("string")).alias("dst"),
        )
        .distinct()
    )
    comps = connected_components(edges, small_graph_threshold=0)
    mappings = edges.select(
        F.col("src").alias("subject_id"), F.col("dst").alias("object_id")
    )
    return canonicalize_mappings(mappings, comps).select(
        "subject_id", "object_id", "subject_canonical", "object_canonical"
    )


def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-lite: component cardinalities from CC labels (charts.py:64-121)."""
    comps = q_connected_components(spark, sf_dir)
    return comps.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup/exact: hash-groupBy with deterministic winner."""
    from sssom_curator_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_dedup(docs, ["text"]).select("doc_id", "text")


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup/MinHash-LSH: shingle → 16 min-hashes → 8 bands → bucket join
    → verified Jaccard ≥ 0.5 (portable md5 hash family)."""
    from sssom_curator_spark.operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, id_col="doc_id", text_col="text", jaccard_threshold=0.5
    ).select("doc_a", "doc_b", "jaccard")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup/n-gram Jaccard: exact inverted-index set similarity."""
    from sssom_curator_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b", "jaccard")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: brute-force cosine top-k baseline."""
    from sssom_curator_spark.operators.similarity import cosine_topk_exact

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk_exact(
        emb.filter(F.col("vec_id") < 10), emb, k=5, id_col="vec_id"
    )
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_embedding_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: broadcast-matmul cosine similarity join, cutoff applied inside
    the pandas UDF (predict/embedding.py:106-161)."""
    from sssom_curator_spark.operators.embedding import embedding_similarity_join

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("string").alias("id"), "embedding"
    )
    src = emb.filter(F.col("id").cast("long") < 50)
    return embedding_similarity_join(src, emb, cutoff=0.3).filter(
        F.col("source_id") != F.col("target_id")
    )


def q_langid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: language-ID heuristic + quality score."""
    from sssom_curator_spark.operators.textstats import langid_heuristic, quality_score

    docs = _t(spark, sf_dir, "documents")
    return quality_score(langid_heuristic(docs)).select(
        "doc_id", "lang_pred", "lang_score", "quality"
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: content hash + winnowing-style min-gram fingerprint."""
    from sssom_curator_spark.operators.textstats import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return doc_fingerprint(docs).select("doc_id", "content_hash", "min_gram_hash")


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: BPE-ish pre-tokenizer token counts."""
    from sssom_curator_spark.operators.textstats import token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").cast("long").alias("n_tokens"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates over the documents corpus. The text
    is rewritten word-per-line (space → newline) on BOTH sides so the
    duplicate-line metrics measure the corpus's real word repetition
    instead of trivially reporting one unique line per single-line doc."""
    from sssom_curator_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " ", "\n").alias("text")
    )
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        "dup_line_frac",
        "dup_line_char_frac",
        "top_2gram_frac",
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every ~97th document plays the
    evaluation benchmark; docs sharing any word 4-gram with it are
    flagged (nonzero by construction — the benchmark rows self-flag, and
    the corpus's repeated phrasing leaks into a handful of others)."""
    from sssom_curator_spark.operators.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return decontaminate(docs, bench, n=4).select("doc_id", "contaminated")


def q_decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination in the hard signal: the SAME corpus is
    replayed as an availableNow micro-batched stream (two source files,
    maxFilesPerTrigger=1 → two genuine ``foreachBatch`` increments
    against the once-built benchmark dimension), and the appended output
    is read back — the DuckDB oracle is the identical batch rule, so
    stream ≡ batch is what the value-hash asserts."""
    import shutil
    import tempfile

    from sssom_curator_spark.streaming.incremental import decontaminate_stream

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    root = tempfile.mkdtemp(prefix="decontam_stream_")
    try:
        src = f"{root}/src"
        docs.repartition(2).write.parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = decontaminate_stream(
            stream,
            bench,
            output_path=f"{root}/flagged",
            checkpoint_path=f"{root}/ckpt",
            n=4,
        )
        q.awaitTermination(300)
        # Materialize before the temp dir vanishes; the result is
        # corpus-sized-bounded (one row per doc).
        out = spark.read.parquet(f"{root}/flagged").select("doc_id", "contaminated")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_first_seen_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup in the hard signal: events replay as an
    availableNow stream of two ts-split source files (mtimes force
    early-half-first processing, so each key's first batch holds its
    global minimum and ``applyInPandasWithState`` first-seen output
    equals the batch min-per-key rule the DuckDB oracle replays);
    overlapping keys exercise cross-batch state suppression."""
    import os
    import shutil
    import tempfile

    from sssom_curator_spark.streaming.incremental import streaming_first_seen

    ev = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("user_id").cast("string").alias("user_key"),
            F.col("event_id").cast("string").alias("event_sid"),
            # watermarks need TIMESTAMP; session tz is pinned UTC so the
            # NTZ→TZ cast is wall-clock identity (session.py:33)
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    ts_long = F.col("ts").cast("long")
    mid = ev.agg(F.percentile(ts_long, F.lit(0.5)).alias("m")).first()["m"]
    root = tempfile.mkdtemp(prefix="first_seen_stream_")
    try:
        early, late = f"{root}/src/a.parquet", f"{root}/src/b.parquet"
        ev.filter(ts_long <= mid).coalesce(1).write.parquet(early)
        ev.filter(ts_long > mid).coalesce(1).write.parquet(late)
        # FileStreamSource orders batches by modification time: pin it
        now = 1_700_000_000
        for path, t in ((early, now), (late, now + 1000)):
            for f in os.listdir(path):
                os.utime(os.path.join(path, f), (t, t))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/src/*")
        )
        q = (
            streaming_first_seen(
                stream,
                key_col="user_key",
                id_col="event_sid",
                ts_col="ts",
                # bounded replay: a pending processing-time timeout would
                # keep the availableNow query alive forever (see operator
                # docstring); no eviction needed for a finite run
                state_timeout_hours=None,
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()  # never leak a live query into the temp-dir cleanup
        out = spark.read.parquet(f"{root}/out").select(
            "user_key", "event_sid", "first_ts"
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup (C4-style boilerplate removal).
    Both sides append a corpus-wide footer paragraph to every document
    (plus a second promo paragraph on every third) and a per-doc unique
    uid paragraph: the dedup must drop exactly the shared paragraphs and
    reassemble body + uid in original order."""
    from sssom_curator_spark.operators.dedup import drop_repeated_paragraphs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nall rights reserved"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\nsubscribe to our newsletter")).otherwise(
                F.lit("")
            ),
            F.lit("\nuid "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return drop_repeated_paragraphs(docs).select("doc_id", "text")


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-keyed dedup counts. The testdata has no
    URL column, so both sides synthesize the same crawl-variant URLs from
    ``orders`` (scheme/host case, default ports, tracking params, param
    order, trailing slash, fragments all vary — plus a schemeless
    malformed variant every 7th row, which must pass through
    trimmed-but-unchanged rather than collide as '<garbage>://' keys)
    and count collapses per canonical form."""
    from sssom_curator_spark import fan_out
    from sssom_curator_spark.functions.url_ops import canonicalize_url

    o = fan_out(_t(spark, sf_dir, "orders"), "o_orderkey")
    k = F.col("o_orderkey")
    base = (
        F.when(k % 3 == 0, F.lit("HTTP://WWW.Shop.COM:80"))
        .when(k % 3 == 1, F.lit("https://www.shop.com:443"))
        .otherwise(F.lit("https://shop.com"))
    )
    tail = F.when(k % 2 == 0, F.lit("/?utm_source=mail&b=2&a=1")).otherwise(
        F.lit("?a=1&b=2&fbclid=x")
    )
    frag = F.when(k % 5 == 0, F.lit("#top")).otherwise(F.lit(""))
    url = F.when(
        k % 7 == 0,
        F.concat(
            F.lit("  www.shop.com/Item/"),
            (F.col("o_custkey") % 50).cast("string"),
            F.lit("?a=1#frag "),
        ),
    ).otherwise(
        F.concat(
            base, F.lit("/Item/"), (F.col("o_custkey") % 50).cast("string"), tail, frag
        )
    )
    return (
        o.select(canonicalize_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_near_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup DECISION: MinHash pairs → connected-component
    duplicate clusters → keep the min-id document per cluster, drop the
    rest. Pins the full detect→cluster→apply chain (chained near-dups
    a~b~c must lose b AND c, which pairwise doc_b-dropping gets wrong)."""
    from sssom_curator_spark.operators.dedup import (
        minhash_near_duplicates,
        near_dedup_apply,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, id_col="doc_id", text_col="text", jaccard_threshold=0.5
    )
    return near_dedup_apply(docs, pairs).select("doc_id", "n_chars")


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation: registered-domain extraction + blocklist
    anti-join + per-domain page/distinct-canonical-URL counts. URLs are
    synthesized from ``orders`` (7 sites behind a www subdomain, tracking
    variants collapsing per canonical URL, a malformed schemeless row
    every 11th grouping under the '(none)' domain)."""
    import pandas as pd

    from sssom_curator_spark import fan_out
    from sssom_curator_spark.functions.url_ops import (
        domain_stats,
        filter_blocklisted_domains,
    )

    # spread the scan before the blocklist join (past the join, counting
    # splits would run the join's stages)
    o = fan_out(_t(spark, sf_dir, "orders"), "o_orderkey")
    k = F.col("o_orderkey")
    url = F.when(k % 11 == 0, F.lit("  site-relative/path?x=1 ")).otherwise(
        F.concat(
            F.lit("https://www.site"),
            (F.col("o_custkey") % 7).cast("string"),
            F.lit(".com/p/"),
            (k % 40).cast("string"),
            F.when(k % 2 == 0, F.lit("?utm_source=x&q=1")).otherwise(F.lit("?q=1")),
        )
    )
    pages = o.select(url.alias("url"))
    blocklist = spark.createDataFrame(
        pd.DataFrame({"domain": ["site0.com", "site3.com"]})
    )
    kept = filter_blocklisted_domains(pages, blocklist)
    out = domain_stats(kept, url_col="url")
    return out.select(
        F.coalesce("domain", F.lit("(none)")).alias("domain"), "n_pages", "n_urls"
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by salted-md5 id bucket —
    stable across re-runs, partitionings and engines (df.sample() is
    neither); per-document rows pin every assignment, not just counts."""
    from sssom_curator_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return split_assign(docs, id_col="doc_id").select("doc_id", "split")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: per-language deterministic keep fractions (80% en,
    30% de, 5% everything else) over salted-md5 id buckets — no RNG, no
    partition dependence; every kept doc_id is pinned."""
    from sssom_curator_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs,
        {"en": 0.8, "de": 0.3},
        strata_col="lang",
        id_col="doc_id",
        default_fraction=0.05,
    )


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing planner: per-language keep rates realizing a
    50/25/25 en/de/es char-volume mixture from measured sizes —
    downsample-only, binding-group-scaled; dim-sized plan, the corpus
    appears only in the upstream size aggregation."""
    from sssom_curator_spark.operators.sampling import mixture_weights

    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    stats = docs.groupBy("lang").agg(F.sum("n_chars").alias("n_tokens"))
    return mixture_weights(
        stats, {"en": 0.5, "de": 0.25, "es": 0.25}, group_col="lang"
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing offsets (n_chars as the token
    proxy, 4096-unit sequences, 16 salted buckets): per-document bucket,
    first-token sequence id and offset — deterministic layout, pinned
    per document."""
    from sssom_curator_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_sequences(docs, id_col="doc_id", tokens_col="n_chars", budget=4096)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: the testdata carries no PII, so both sides inject
    the same synthetic email / IPv4 / US-phone strings keyed off doc_id,
    then run the shared Java∩RE2 pattern set — per-kind counts on the raw
    text plus an md5 of the redacted text pin every replacement."""
    from sssom_curator_spark import fan_out
    from sssom_curator_spark.functions.pii_ops import pii_counts, redact_pii

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    k = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit(" contact user"), k.cast("string"), F.lit("@example.com")),
        )
        .when(
            k % 3 == 1,
            F.concat(
                F.lit(" from 192.168."),
                (k % 256).cast("string"),
                F.lit(".7 call 555-"),
                F.lpad((k % 1000).cast("string"), 3, "0"),
                F.lit("-1234"),
            ),
        )
        .otherwise(F.lit("")),
    )
    counts = pii_counts(injected)
    return docs.select(
        "doc_id",
        *counts.values(),
        F.md5(redact_pii(injected).cast("binary")).alias("redacted_md5"),
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: every document scored by hashed-bigram
    log-likelihood ratio of the lang='en' target slice vs the whole
    corpus; weights quantized to integer micro-nats so sums are exact
    and partition-invariant."""
    from sssom_curator_spark.operators.importance import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return dsir_weights(docs.select("doc_id", "text"), docs.filter(F.col("lang") == "en"))


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic spherical k-means (k=8, 2 Lloyd iterations from the
    min-id seeds): broadcast centroid matmul assignment, posexplode-mean
    update, 6-dp score rounding + lowest-cluster tie-break so the DuckDB
    replay follows the identical trajectory."""
    from sssom_curator_spark.operators.clustering import kmeans_assignments

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assignments(emb, k=8, n_iter=2)


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-25 tokens by (tf DESC, token ASC) with term
    and document frequency under the shared norm_words rule; countDistinct
    plans as the hub-safe two-shuffle expand, the top-k as
    TakeOrderedAndProject (never a global sort)."""
    from sssom_curator_spark.operators.textstats import vocab_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_stats(docs, min_df=2, top_k=25)


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation (Spark's third window family next to
    tumbling/sliding, SURVEY.md §2.9): per-user sessions split at >30 min
    idle gaps via F.session_window — the same expression Structured
    Streaming uses stateful — with the oracle replaying the gaps-and-
    islands form (lag + cumulative new-session sum). Session end is
    last_ts + gap per Spark's semantics."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss.SSS").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss.SSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )


def q_crawl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl refresh: 'standing corpus' (even event_ids) +
    'new crawl' (odd event_ids) with URL variants synthesized from the
    same 300 pages; keep the newest capture per canonical URL — one
    two-phase max(struct) shuffle, every surviving row pinned."""
    from sssom_curator_spark.functions.url_ops import crawl_merge

    e = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    url = F.concat(
        F.when(k % 3 == 0, F.lit("HTTP://Site.org:80/p/")).otherwise(
            F.lit("http://site.org/p/")
        ),
        (k % 300).cast("string"),
        F.when(k % 4 == 0, F.lit("?utm_source=crawl&v=1")).otherwise(F.lit("?v=1")),
    )
    pages = e.select(url.alias("url"), F.col("ts").alias("warc_ts"), "event_id")
    old = pages.filter(k % 2 == 0)
    new = pages.filter(k % 2 == 1)
    return crawl_merge(old, new)


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-window exposure per document: the
    fraction of each doc's distinct 3-token windows occurring elsewhere
    in the corpus. Windows travel as md5; the duplicated-window dim is
    one column; every doc's counts are pinned."""
    from sssom_curator_spark.operators.dedup import dup_span_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_span_stats(docs, window_tokens=3, min_df=2)


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training primitive: one BPE merge-iteration — top-40
    adjacent character-pair frequencies inside norm_words pre-tokens,
    weighted by word occurrence count. The explode runs over the
    DISTINCT-word frequency table (vocabulary-sized), never the corpus."""
    from sssom_curator_spark.operators.textstats import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents").select("text")
    return bpe_pair_counts(docs, top_k=40)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE training, 2 greedy merges over the documents corpus
    — the oracle replays the exact trajectory (pair counts → top-1 →
    greedy left-to-right apply via literal separator-string replace),
    like the k-means trajectory oracle."""
    from sssom_curator_spark.operators.textstats import bpe_train

    docs = _t(spark, sf_dir, "documents").select("text")
    return bpe_train(docs, n_merges=2)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (named in the brief as a Spark-missing operator):
    every event picks up the most recent at-or-before 'click' value for
    its user — union+window idiom, ONE key shuffle; the oracle is
    DuckDB's native ASOF JOIN."""
    from sssom_curator_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    return asof_join(left, right, on="user_id")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (brief-named Spark-missing operator): events (epoch
    seconds) against 40 synthesized maintenance windows — bucketized
    equi-join on a 2h grid + exact containment filter, never a BNLJ;
    oracle is the plain SQL range predicate."""
    from sssom_curator_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    points = ev.select(
        "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lit("2024-01-01 00:00:00")))
        .cast("long")
        .alias("t"),
    )
    iv = spark.range(0, 40).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("window_id"),
        (F.col("id") * 7200).alias("w_start"),
        (F.col("id") * 7200 + 3600).alias("w_end"),
    )
    return range_join(
        points, iv, point_col="t", start_col="w_start", end_col="w_end",
        bucket_width=7200,
    )


def q_kmins_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-mins cardinality sketch per event_type (distinct user_ids):
    aggregate-only, map-side-combining, merge-by-min — deterministic
    enough that DuckDB replays the estimate bit-for-bit."""
    from sssom_curator_spark.operators.sketches import kmins_distinct

    ev = _t(spark, sf_dir, "events")
    return kmins_distinct(ev, group_col="event_type", value_col="user_id")


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade hour -> day -> week over events; the
    oracle computes each level DIRECTLY from raw events, so a value match
    proves the partial-reaggregation cascade is lossless (the whole point
    of the hypertable shape: coarse levels never rescan the corpus)."""
    from sssom_curator_spark.operators.temporal import hypertable_rollup

    ev = _t(spark, sf_dir, "events")
    out = hypertable_rollup(ev, levels=("hour", "day", "week"))
    return out.select(
        "level",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_s"),
        "key",
        "n",
        "sum_micro",
    )


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords: floor-quantized micro-nat IDF
    makes every score an exact integer product; deterministic
    (score DESC, token ASC) ranking, window top-k per document."""
    from sssom_curator_spark.operators.textstats import tfidf_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk(docs, k=3)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply: encode every document with a fixed 2-merge table
    (t+h, th+e) — pure codegen chained literal replaces, no UDF/shuffle;
    per-document token count and the joined symbol stream are pinned."""
    from sssom_curator_spark.operators.textstats import bpe_encode

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enc = bpe_encode(docs, [("t", "h"), ("th", "e")])
    return enc.select(
        "doc_id",
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.array_join("bpe_tokens", " ").alias("tokens_s"),
    )


def q_mention_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (JVM path): token n-gram explode + broadcast index join.

    The index holds the distinct unigram WORDS of the part names (like the
    flagship ``entry`` does) — full multi-word part names never occur as
    adjacent tokens in the documents corpus, so the previous full-name
    index matched zero rows (vacuous 0 = 0 oracle, VERDICT r03). Unigram
    words overlap the corpus vocabulary, so this row now pins the
    tokenize → n-gram → broadcast-join semantics over ~1k real matches;
    max_tokens=2 keeps the bigram explode path exercised (bigram grams
    simply find no unigram index entry)."""
    from sssom_curator_spark.operators.grounding import mention_candidates_ngram

    docs = _t(spark, sf_dir, "documents")
    part = _t(spark, sf_dir, "part")
    index = (
        part.select(F.explode(F.split("p_name", " ")).alias("w"))
        .distinct()
        .select(
            F.lit("PW").alias("prefix"),
            F.col("w").alias("identifier"),
            F.col("w").alias("name"),
            F.col("w").alias("norm_text"),
        )
    )
    return mention_candidates_ngram(docs, index, id_col="doc_id", max_tokens=2).select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "surface", "object_id"
    )


def q_record_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: sha256 content-addressed record ids (web/backends/memory.py:57-62)."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        li.filter(F.col("l_orderkey") < 500)
        .select(
            F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("subject_id"),
            F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("object_id"),
        )
        .distinct()
    )
    return pairs.withColumn(
        "record_id",
        F.sha2(
            F.concat_ws("|", "subject_id", F.lit("skos:exactMatch"), "object_id"), 256
        ),
    )


def q_curie_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: prefix standardization via literal alias map
    (tests/test_merge.py:109-133 `chebi`→`CHEBI`)."""
    from sssom_curator_spark.functions.curie_ops import standardize_curie

    nation = _t(spark, sf_dir, "nation")
    curie = F.when(
        F.col("n_nationkey") % 2 == 0,
        F.concat(F.lit("chebi:"), F.col("n_nationkey").cast("string")),
    ).otherwise(F.concat(F.lit("MESH:"), F.col("n_nationkey").cast("string")))
    return nation.select(
        "n_nationkey",
        standardize_curie(curie, {"chebi": "CHEBI", "MESH": "mesh"}).alias("curie_std"),
    )


# --------------------------------------------------------------------------
# formerly rows-only queries, now hard-checked (round-2 verdict item #2)
# --------------------------------------------------------------------------


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup/SimHash: 64-bit md5 bit-vote signatures + banded hamming
    pairs — fully replayed by the DuckDB oracle (same md5 prefix hashes,
    same 16-bit chunk banding, same bit_count verify)."""
    from sssom_curator_spark.operators.dedup import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = simhash_near_duplicates(docs, max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: random-hyperplane LSH approximate top-k — the
    DuckDB oracle replays the md5-seeded hyperplanes, banded signatures,
    candidate join, and exact rerank."""
    from sssom_curator_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk_lsh(emb.filter(F.col("vec_id") < 10), emb, k=5, id_col="vec_id")
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: IVF (inverted-file) approximate top-k — the
    second ANN scale path beside LSH. The DuckDB oracle replays the
    md5-seeded centroid pick, the round-6 nearest-centroid assignment,
    the n_probe cell fan-out, and the exact rerank."""
    from sssom_curator_spark.operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk_ivf(
        emb.filter(F.col("vec_id") < 10), emb, k=5, id_col="vec_id",
        n_centroids=16, n_probe=4,
    )
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload header decode (Arrow-batched
    python kernel over a deterministic fake format) + frame-sampling row
    explosion; media constructed from `part` keys so the DuckDB oracle
    replays the metadata arithmetic exactly."""
    from sssom_curator_spark.operators.multimodal import (
        MEDIA_MAGIC,
        image_metadata,
        sample_frames,
    )

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    pk = F.col("p_partkey")
    w = (pk % 320 + 16).cast("int")
    h = (pk % 240 + 16).cast("int")
    header = F.concat(
        F.lit(MEDIA_MAGIC),
        F.lit(bytes([1])),
        F.unhex(F.lpad(F.hex(w), 4, "0")),
        F.unhex(F.lpad(F.hex(h), 4, "0")),
        F.md5(pk.cast("string")).cast("binary"),
    )
    media = part.select(
        F.concat(F.lit("img-"), pk.cast("string")).alias("media_id"),
        F.lit("image/fake").alias("media_type"),
        header.alias("payload"),
        F.struct(
            w.alias("width"), h.alias("height"),
            F.length(header).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    meta = image_metadata(media)
    frames = sample_frames(media, every_n=10, max_frames=5)
    return frames.join(meta, on="media_id").select(
        "media_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.col("frame_offset").cast("long").alias("frame_offset"),
        F.col("version").cast("long").alias("version"),
        "width",
        "height",
        "aspect",
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup/embedding-cosine near-dup: LSH-bucketed candidate pairs,
    exact-cosine rerank at cutoff 0.35 — the DuckDB oracle replays the
    md5-seeded hyperplanes, banding, self-join, and rerank."""
    from sssom_curator_spark.operators.similarity import cosine_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_duplicates(emb, id_col="vec_id", cutoff=0.35)


def q_curation_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: curation state machine, ALL FIVE marks (correct/incorrect/
    unsure/BROAD/NARROW) plus the ineligible-row no-op, differentially
    checked against a DuckDB CASE replication of the golden transitions
    (reference wsgi_cases.py:199-323, memory.py:94-153).

    Input is constructed from the ``nation`` table identically on both
    sides: row k is a prediction (status ``positive`` — ineligible — when
    k % 6 == 5) marked with mark #(k % 6)."""
    import datetime

    from sssom_curator_spark.curation.state import apply_marks, with_record_id
    from sssom_curator_spark.functions.curie_ops import curie_identifier
    from sssom_curator_spark.io.sssom_tsv import conform_to_mapping_schema

    nation = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    base = nation.select(
        F.concat(F.lit("CHEBI:"), k.cast("string")).alias("subject_id"),
        F.lit("skos:exactMatch").alias("predicate_id"),
        F.concat(F.lit("mesh:C"), k.cast("string")).alias("object_id"),
        F.lit("semapv:LexicalMatching").alias("mapping_justification"),
        F.lit(0.9).alias("confidence"),
        F.lit("test").alias("mapping_tool"),
        F.when(k % 6 == 5, F.lit("positive"))
        .otherwise(F.lit("predicted"))
        .alias("status"),
    )
    repo = with_record_id(conform_to_mapping_schema(base))
    # row k's key is the identifier of its subject CURIE
    row_k = curie_identifier("subject_id").cast("long")
    mark = F.element_at(
        F.array(*[F.lit(m) for m in ["correct", "incorrect", "unsure", "BROAD", "NARROW", "correct"]]),
        (row_k % 6 + 1).cast("int"),
    )
    marks = repo.select(F.col("record_id"), mark.alias("mark"))
    out = apply_marks(
        repo,
        marks,
        author="orcid:0000-0000-0000-0000",
        today=datetime.date(2026, 8, 16),
    )
    return out.select(
        "subject_id",
        "predicate_id",
        "predicate_modifier",
        "mapping_justification",
        "confidence",
        "mapping_tool",
        "status",
        F.array_join("author_id", ",").alias("author"),
        F.array_join("reviewer_id", ",").alias("reviewer"),
        F.col("mapping_date").cast("string").alias("mapping_date_s"),
        F.col("review_date").cast("string").alias("review_date_s"),
        "reviewer_agreement",
    )


def q_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 ``insert()`` promoted to the hard signal (VERDICT r03 missing
    #2): the full daily-driver roundtrip — write an SSSOM TSV, append
    incoming rows with lowercase prefixes through the converter
    (alias_map standardization), lint (dedup on the canonical tuple +
    sort), re-read — replayed in DuckDB as plain SQL over the same
    lineitem-derived pairs.

    Existing rows come from orders < 300, incoming from 200–500 with
    ``p:``/``s:`` prefixes (the 200–300 overlap exercises dedup, the
    aliases exercise C5 standardization); confidence derives from the key
    columns only so the dedup winner is value-deterministic."""
    import shutil
    import tempfile

    from sssom_curator_spark.io.sssom_tsv import (
        conform_to_mapping_schema,
        insert_sssom_tsv,
        read_sssom_tsv,
        write_sssom_tsv,
    )

    li = _t(spark, sf_dir, "lineitem")

    def pairs(frame, lo, hi, sub_prefix, obj_prefix):
        conf = ((F.col("l_partkey") * 31 + F.col("l_suppkey")) % 1000) / 1000.0
        return (
            frame.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi))
            .select(
                F.concat(F.lit(sub_prefix), F.col("l_partkey").cast("string")).alias(
                    "subject_id"
                ),
                F.lit("skos:exactMatch").alias("predicate_id"),
                F.concat(F.lit(obj_prefix), F.col("l_suppkey").cast("string")).alias(
                    "object_id"
                ),
                F.lit("semapv:LexicalMatching").alias("mapping_justification"),
                conf.alias("confidence"),
            )
            .distinct()
        )

    prefix_map = {
        "P": "https://example.org/part/",
        "S": "https://example.org/supplier/",
        "skos": "http://www.w3.org/2004/02/skos/core#",
        "semapv": "https://w3id.org/semapv/vocab/",
    }
    path = os.path.join(tempfile.mkdtemp(prefix="sssom_insert_"), "pred.sssom.tsv")
    write_sssom_tsv(
        conform_to_mapping_schema(pairs(li, 0, 300, "P:", "S:")),
        path,
        prefix_map=prefix_map,
    )
    insert_sssom_tsv(
        spark,
        path,
        pairs(li, 200, 500, "p:", "s:"),
        alias_map={"p": "P", "s": "S"},
    )
    out, _, _ = read_sssom_tsv(spark, path)
    # materialize before deleting the temp dir (the TSV scan is lazy)
    result = out.select(
        "subject_id", "predicate_id", "object_id", "confidence"
    ).localCheckpoint()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return result


@contextlib.contextmanager
def _shuffle_partitions(spark: SparkSession, n: int):
    """Run one query at shuffle width ``n`` and give the session its own
    width back, so no query changes what later queries run with."""
    key = "spark.sql.shuffle.partitions"
    previous = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, previous)


def q_kg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end north-rule pipeline on deterministic synthetic pages,
    checked against the hand-derived planted-truth edge set (the seed
    fixtures are literal rows; all_by_all over them yields exactly three
    cross-namespace exact-text pairs after the xref anti-join, each at
    confidence 1.0 — the oracle pins that expected set as VALUES)."""
    from sssom_curator_spark.pipeline import build_kg
    from sssom_curator_spark.sources.fixtures import seed_labels, seed_xrefs
    from sssom_curator_spark.sources.pages import generate_pages

    # tiny-input hygiene: a 150-page fixture gains nothing from wide
    # shuffles; 8 post-shuffle partitions keep the many-stage DAG snappy
    with _shuffle_partitions(spark, 8):
        pages = generate_pages(spark, 150)
        out = build_kg(
            spark, pages, seed_labels(spark), xrefs=seed_xrefs(spark), materialize=False
        )
        # lazy-mode caller owns the persisted frame: materialize the small
        # projection, then release the cache (long-lived sessions otherwise
        # accumulate one cached frame per invocation)
        result = out["mappings"].select(
            "subject_id", "predicate_id", "object_id", "confidence"
        ).localCheckpoint()
    out["mappings"].unpersist()
    return result


def q_kg_evidence_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence-boost arithmetic in the hard signal (pipeline.py:272-281):
    planted label pairs whose lexical confidence is sub-cutoff (scored by
    the logistic feature scorer — the label index carries an embedding
    column, so the rescoring path is active) and which cross the 0.65
    cutoff ONLY via saturated corpus evidence.

    Construction (all hand-derivable, generator is deterministic):

    - pair A ``mesh:A1→CHEBI:1`` scores 0.378 pre-boost; its SUBJECT label
      is a planted page surface with ≥10 distinct docs → boost saturates at
      0.5 → round(0.378 + 0.622·0.5, 3) = 0.689 ≥ 0.65 → kept;
    - pair C ``mesh:B2→CHEBI:2`` scores 0.393; only its OBJECT label is a
      surface (subject label never appears as an index norm_text), so the
      row survives (0.697) ONLY if the boost takes the greatest side's
      evidence — pins the greatest() choice;
    - pair B ``mesh:B3→CHEBI:3`` scores 0.223 with NO page evidence →
      dropped (and 0.223 + 0.777·0.5 = 0.612 < 0.65, so it stays dropped
      even if evidence were wrongly attached — magnitude control);
    - anchor ``mesh:V1→CHEBI:555`` is an exact-text pair → 1.0, kept.

    The mention rate is 100% over the two tocopherol surfaces across 300
    pages (~80% pass the en language gate), so each surface's distinct-doc
    count is far above the 10-doc saturation point in every deterministic
    outcome — the boost is exactly 0.5 and the oracle VALUES are exact.
    """
    from sssom_curator_spark.pipeline import build_kg
    from sssom_curator_spark.schema import LABELS_SCHEMA
    from sssom_curator_spark.sources.pages import generate_pages

    rows = [
        # (prefix, identifier, name, norm_text): norm_text is the lexical
        # index key (synonym aliases share a key with a different name —
        # that is what makes the pair's lexical score sub-1.0)
        ("mesh", "A1", "alpha tocopherol acetate", "alpha tocopherol acetate"),
        ("CHEBI", "1", "tocopherol acetate", "alpha tocopherol acetate"),
        ("mesh", "B2", "beta tocopherol acetate", "tocopherol acetate"),
        ("CHEBI", "2", "tocopherol acetate", "tocopherol acetate"),
        ("mesh", "B3", "gamma sitosterol", "gamma sitosterol"),
        ("CHEBI", "3", "sitosterol", "gamma sitosterol"),
        ("mesh", "V1", "visnadin", "visnadin"),
        ("CHEBI", "555", "visnadin", "visnadin"),
    ]
    labels = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "prefix": p,
                    "identifier": i,
                    "name": n,
                    "norm_text": t,
                    "is_synonym": n != t,
                    "source_version": "2026-01",
                }
                for p, i, n, t in rows
            ]
        ),
        LABELS_SCHEMA,
    ).withColumn("embedding", F.lit(None).cast("array<double>"))
    with _shuffle_partitions(spark, 8):
        pages = generate_pages(
            spark,
            300,
            labels=["alpha tocopherol acetate", "tocopherol acetate"],
            mention_rate_pct=100,
            hub_rate_pct=0,
        )
        out = build_kg(spark, pages, labels, materialize=False)
        result = out["mappings"].select(
            "subject_id", "predicate_id", "object_id", "confidence"
        ).localCheckpoint()
    out["mappings"].unpersist()
    return result


def q_contributor_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: contributor counter — explode the author array, keep ORCID-
    prefixed ids, most-common ordering (export/summary.py:83-99 + O3)."""
    orders = _t(spark, sf_dir, "orders")
    authors = F.array(
        F.concat(F.lit("orcid:"), (F.col("o_custkey") % 50).cast("string")),
        F.concat(F.lit("web:"), (F.col("o_custkey") % 7).cast("string")),
    )
    return (
        orders.select(F.explode(authors).alias("author_id"))
        .filter(F.substring_index("author_id", ":", 1) == "orcid")
        .groupBy("author_id")
        .agg(F.count(F.lit(1)).alias("n_contributions"))
    )


def q_redundancy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: cross-file redundancy — canonical key present in more than one
    file (testing.py:126-159); file = order status."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            (F.col("o_custkey") % 100).alias("key_bucket"),
            F.col("o_orderpriority").alias("key_priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_orderstatus").cast("long").alias("n_files"),
        )
        .filter(F.col("n_files") > 1)
    )


def q_curie_uri_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: CURIE → URI expansion against the seed prefix map; unmapped
    prefixes yield null (constants.py:40-69, strict=False Converter)."""
    from sssom_curator_spark.functions.curie_ops import expand_curie
    from sssom_curator_spark.sources.fixtures import PREFIX_MAP

    part = _t(spark, sf_dir, "part")
    curie = (
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(F.lit("CHEBI:"), F.col("p_partkey").cast("string")),
        )
        .when(
            F.col("p_partkey") % 3 == 1,
            F.concat(F.lit("mesh:C"), F.col("p_partkey").cast("string")),
        )
        .otherwise(F.concat(F.lit("unknown:"), F.col("p_partkey").cast("string")))
    )
    df = part.select(curie.alias("curie"))
    return df.select("curie", expand_curie("curie", PREFIX_MAP).alias("uri"))


def q_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: zero-filled integer histogram (export/charts.py:221-229
    ``_countplot_list``) over per-customer order counts."""
    from sssom_curator_spark.export.summary import zero_filled_histogram

    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return zero_filled_histogram(per_cust, "n")


def q_same_text_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 ``same_text``: case-insensitive label equality between paired
    rows (web/utils.py:60-76, applied web/backends/memory.py:87-92)."""
    part = _t(spark, sf_dir, "part")
    a = part.select(F.col("p_partkey").alias("k"), F.col("p_type").alias("t1"))
    b = part.select((F.col("p_partkey") - 1).alias("k"), F.col("p_type").alias("t2"))
    return (
        a.join(b, on="k")
        .filter(F.lower("t1") == F.lower("t2"))
        .select("k", "t1", "t2")
    )


def q_missing_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: complement within a component — node pairs with no existing
    edge (export/charts.py:92-112). Components = regions; the edge set is
    consecutive in-region nation keys (stride 5 in the generator)."""
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_regionkey").alias("r"), F.col("n_nationkey").alias("u"))
    n2 = nation.select(F.col("n_regionkey").alias("r"), F.col("n_nationkey").alias("v"))
    pairs = n1.join(n2, on="r").filter(F.col("u") < F.col("v"))
    edges = nation.select(
        F.col("n_regionkey").alias("r"),
        F.col("n_nationkey").alias("u"),
        (F.col("n_nationkey") + 5).alias("v"),
    )
    return pairs.join(edges, on=["r", "u", "v"], how="left_anti")


def q_unstable_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: positive-component pairs probed against the negative edge set
    (export/charts.py:81-87) — an unstable component holds a pair that a
    curator marked incorrect."""
    import pandas as pd

    nation = _t(spark, sf_dir, "nation")
    neg = spark.createDataFrame(
        pd.DataFrame([(0, 5), (2, 7), (14, 16), (3, 23)], columns=["u", "v"]),
        "u long, v long",
    )
    n1 = nation.select(F.col("n_regionkey").alias("r"), F.col("n_nationkey").alias("u"))
    n2 = nation.select(F.col("n_regionkey").alias("r"), F.col("n_nationkey").alias("v"))
    pairs = n1.join(n2, on="r").filter(F.col("u") < F.col("v"))
    return pairs.join(F.broadcast(neg), on=["u", "v"], how="inner").select("r", "u", "v")


def q_domain_rank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the domain link graph: rank mass flows
    proportionally to n_links per edge (graph/pagerank.py weight=)."""
    from sssom_curator_spark.graph.pagerank import pagerank
    from sssom_curator_spark.operators.weblinks import extract_links, link_graph

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lg = link_graph(extract_links(_link_pages(docs)))
    edges = lg.select(
        F.col("src_domain").alias("src"),
        F.col("dst_domain").alias("dst"),
        "n_links",
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    return pagerank(edges, weight="n_links", damping=0.85, iterations=3)


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastSS deletion-neighborhood typo matching (operators/grounding.py)
    vs a brute-force DuckDB levenshtein oracle — part names plus planted
    single-deletion variants."""
    from sssom_curator_spark.operators.grounding import edit_distance_pairs

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    names = part.select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("norm_text")
    ).union(
        part.filter(F.col("p_partkey") % 7 == 0).select(
            (F.col("p_partkey") + 1000000).alias("id"),
            F.substring(
                F.col("p_name"), 1, F.length("p_name") - 1
            ).alias("norm_text"),
        )
    )
    return edit_distance_pairs(names)


def q_comention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG edge induction from J2 mentions (operators/grounding.py):
    unordered entity pairs co-mentioned in >= 2 documents."""
    from sssom_curator_spark.operators.grounding import (
        comention_edges,
        mention_candidates_ngram,
    )

    from sssom_curator_spark.operators.textstats import vocab_stats

    docs = _t(spark, sf_dir, "documents")
    index = vocab_stats(docs.select("doc_id", "text"), top_k=25).select(
        F.lit("VOC").alias("prefix"),
        F.col("token").alias("identifier"),
        F.col("token").alias("name"),
        F.col("token").alias("norm_text"),
    )
    mentions = mention_candidates_ngram(docs, index, id_col="doc_id", max_tokens=1)
    return comention_edges(mentions, min_docs=10)


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datacard: per-language document counts, corpus share, and
    mean quality — the one-page summary a dataset release ships."""
    from sssom_curator_spark.operators.textstats import langid_heuristic, quality_score

    docs = _t(spark, sf_dir, "documents")
    from sssom_curator_spark.operators.textstats import stable_round

    lq = quality_score(langid_heuristic(docs)).select("doc_id", "lang_pred", "quality")
    # group FIRST, then derive the total from the language-sized frame —
    # a separate corpus-level count would re-run the whole scoring scan
    # (no common-subplan elimination across the crossJoin)
    grouped = (
        lq.groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("quality").alias("_aq"))
        .localCheckpoint()
    )
    total = grouped.agg(F.sum("n_docs").cast("double").alias("_total"))
    return grouped.crossJoin(F.broadcast(total)).select(
        "lang_pred",
        "n_docs",
        stable_round(F.col("n_docs") / F.col("_total"), 6).alias("share"),
        stable_round(F.col("_aq"), 6).alias("avg_quality"),
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the corpus vocabulary (textstats.py):
    one-row least-squares slope/intercept of ln(freq) ~ ln(rank)."""
    from sssom_curator_spark.operators.textstats import zipf_fit

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return zipf_fit(docs, top_k=150)


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair PMI collocation mining (operators/textstats.py):
    phrase candidates for the grounding index; bigram total derived as
    total_tokens - non_empty_docs (never a second pair aggregation)."""
    from sssom_curator_spark.operators.textstats import bigram_pmi

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_pmi(docs, min_count=3)


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous deterministic label propagation (graph/labelprop.py):
    4 rounds of most-frequent-neighbor-label with min-label tie-break."""
    from sssom_curator_spark.graph.labelprop import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 1500).select(
        F.concat(F.lit("p"), (F.col("l_orderkey") % 40).cast("string")).alias("src"),
        F.concat(F.lit("p"), (F.col("l_partkey") % 40).cast("string")).alias("dst"),
    )
    return label_propagation(edges, iterations=4)


def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-neighborhood Jaccard (graph/neighbors.py) — the
    entity-resolution-by-co-mapping signal; threshold prunes the pair
    stream, hub capping exercised in pytest."""
    from sssom_curator_spark.graph.neighbors import neighbor_jaccard

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 1500).select(
        F.concat(F.lit("p"), (F.col("l_orderkey") % 40).cast("string")).alias("src"),
        F.concat(F.lit("p"), (F.col("l_partkey") % 40).cast("string")).alias("dst"),
    )
    return neighbor_jaccard(edges, threshold=0.2)


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles via value histogram (operators/sketches.py)
    — corpus work is one value-keyed shuffle; everything downstream is
    cardinality-sized."""
    from sssom_curator_spark.operators.sketches import exact_quantiles

    docs = _t(spark, sf_dir, "documents")
    return exact_quantiles(docs, "n_chars", [0.05, 0.25, 0.5, 0.75, 0.95, 0.99])


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random walk with restart (graph/pagerank.py): teleport + dangling
    mass return to a 3-node seed set."""
    import pandas as pd

    from sssom_curator_spark.graph.pagerank import personalized_pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 3000).select(
        F.concat(F.lit("p"), (F.col("l_orderkey") % 60).cast("string")).alias("src"),
        F.concat(F.lit("p"), (F.col("l_partkey") % 60).cast("string")).alias("dst"),
    )
    seeds = spark.createDataFrame(
        pd.DataFrame({"node": ["p0", "p7", "p13"]})
    )
    return personalized_pagerank(edges, seeds, damping=0.85, iterations=4)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration HITS hubs/authorities (graph/hits.py) vs a
    chained half-step + L2-normalization CTE oracle."""
    from sssom_curator_spark.graph.hits import hits

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 3000).select(
        F.concat(F.lit("p"), (F.col("l_orderkey") % 60).cast("string")).alias("src"),
        F.concat(F.lit("p"), (F.col("l_partkey") % 60).cast("string")).alias("dst"),
    )
    return hits(edges, iterations=5)


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the mixed dense+chain graph
    (graph/stats.py): one-row Pearson correlation of edge-end degrees."""
    from sssom_curator_spark.graph.stats import degree_assortativity

    li = _t(spark, sf_dir, "lineitem")
    dense = li.filter(F.col("l_orderkey") < 800).select(
        F.concat(F.lit("d"), (F.col("l_orderkey") % 15).cast("string")).alias("src"),
        F.concat(F.lit("d"), (F.col("l_partkey") % 15).cast("string")).alias("dst"),
    )
    chain = li.filter(F.col("l_orderkey") < 600).select(
        F.concat(F.lit("s"), (F.col("l_orderkey") % 50).cast("string")).alias("src"),
        F.concat(F.lit("s"), (F.col("l_orderkey") % 50 + 1).cast("string")).alias("dst"),
    )
    return degree_assortativity(dense.union(chain))


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the p-graph (graph/stats.py): iterative degree peeling
    to a fixpoint vs a fixed-round CTE oracle."""
    from sssom_curator_spark.graph.stats import k_core

    li = _t(spark, sf_dir, "lineitem")
    dense = li.filter(F.col("l_orderkey") < 800).select(
        F.concat(F.lit("d"), (F.col("l_orderkey") % 15).cast("string")).alias("src"),
        F.concat(F.lit("d"), (F.col("l_partkey") % 15).cast("string")).alias("dst"),
    )
    chain = li.filter(F.col("l_orderkey") < 600).select(
        F.concat(F.lit("s"), (F.col("l_orderkey") % 50).cast("string")).alias("src"),
        F.concat(F.lit("s"), (F.col("l_orderkey") % 50 + 1).cast("string")).alias("dst"),
    )
    # dense 15-node cluster survives the 3-core; the 51-node chain peels
    return k_core(dense.union(chain), 3)


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled degree distribution (graph/stats.py) — the skew
    pre-flight report for join-strategy decisions."""
    from sssom_curator_spark.graph.stats import degree_histogram

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 1500).select(
        F.concat(F.lit("p"), (F.col("l_orderkey") % 40).cast("string")).alias("src"),
        F.concat(F.lit("p"), (F.col("l_partkey") % 40).cast("string")).alias("dst"),
    )
    return degree_histogram(edges)


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (graph/triangles.py) via degree-ordered
    orientation — wedge blowup capped at O(√m) out-degree regardless of
    hubs; oracle is the independent canonical-edge 3-way join."""
    from sssom_curator_spark.graph.triangles import triangle_counts

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 3000).select(
        F.concat(F.lit("p"), (F.col("l_orderkey") % 60).cast("string")).alias("src"),
        F.concat(F.lit("p"), (F.col("l_partkey") % 60).cast("string")).alias("dst"),
    )
    return triangle_counts(edges)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (operators/sampling.py): 25 documents proportional to n_chars,
    selected by salted-hash uniforms — deterministic across engines."""
    from sssom_curator_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, 25, weight_col="n_chars")


def q_group_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-group deterministic sample (operators/sampling.py):
    the smallest k salted hashes per group, partition-invariant."""
    from sssom_curator_spark.operators.sampling import group_topk_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 7).alias("grp")
    )
    return group_topk_sample(docs, group_cols=["grp"], id_col="doc_id", k=3)


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot delta (functions/url_ops.py crawl_diff): two synthetic
    crawls of the documents corpus — removals (doc_id%13==0), content
    changes (%7==0), additions (%17==0 under an /extra/ path) — reported
    as a delta-sized added/removed/changed table."""
    from sssom_curator_spark.functions.url_ops import crawl_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("http://crawl"), (d % 19).cast("string"), F.lit(".site/p/"), d.cast("string")
    )
    old = docs.select(url.alias("url"), "text")
    changed = docs.filter(d % 13 != 0).select(
        url.alias("url"),
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
            F.col("text")
        ).alias("text"),
    )
    added = docs.filter(d % 17 == 0).select(
        F.concat(
            F.lit("http://crawl"),
            (d % 19).cast("string"),
            F.lit(".site/extra/"),
            d.cast("string"),
        ).alias("url"),
        "text",
    )
    return crawl_diff(old, changed.union(added))


def q_anchor_grounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text entity linking (operators/weblinks.py): anchors of the
    extracted links grounded against the part-word index, counted per
    (target domain, term) — the web-graph grounding prior."""
    from sssom_curator_spark.operators.weblinks import (
        anchor_entity_candidates,
        extract_links,
    )

    from sssom_curator_spark.operators.textstats import vocab_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    links = extract_links(_link_pages(docs))
    index = vocab_stats(docs, top_k=100).select(
        F.lit("VOC").alias("prefix"),
        F.col("token").alias("identifier"),
        F.col("token").alias("norm_text"),
    )
    return anchor_entity_candidates(links, index)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window training chunker (operators/sampling.py): map-side
    tokenize → arithmetic chunk count → sequence explode → slice."""
    from sssom_curator_spark.operators.sampling import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, max_tokens=20, overlap=5)


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist filter (functions/url_ops.py): left_anti equi-join
    of pages against a broadcastable blocked-domain dimension."""
    from sssom_curator_spark.functions.url_ops import filter_blocklisted_domains

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://src"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit(".net/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    blocked = spark.range(8).select(
        F.concat(F.lit("src"), (F.col("id") * 3).cast("string"), F.lit(".net")).alias(
            "domain"
        )
    )
    return filter_blocklisted_domains(pages, blocked).select("doc_id", "url")


def _link_pages(docs: DataFrame) -> DataFrame:
    """Deterministic link-bearing html pages from the documents table —
    the Spark twin of the oracle's ``_LINKS_CTES`` pages CTE."""
    from sssom_curator_spark.operators.textstats import norm_words

    d = F.col("doc_id")
    w1 = F.coalesce(F.get(norm_words(F.col("text")), 0), F.lit("page"))
    w2 = F.coalesce(F.get(norm_words(F.col("text")), 1), F.lit("link two"))
    url = F.concat(
        F.lit("http://src"), (d % 23).cast("string"), F.lit(".net/p/"), d.cast("string")
    )
    html = F.concat(
        F.lit('<html><body><p>Visit <a href="http://site'),
        (d % 37).cast("string"),
        F.lit(".example.com/p/"),
        d.cast("string"),
        F.lit('">'),
        w1,
        F.lit('</a> and <a rel="x" href="https://www.site'),
        (d % 11).cast("string"),
        F.lit(".org/q?ref="),
        (d % 5).cast("string"),
        F.lit('">'),
        w2,
        F.lit("</a></p></body></html>"),
    )
    return docs.select(url.alias("url"), html.alias("html"))


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-tag extraction (operators/weblinks.py): codegen
    regexp_extract_all over html, one row per link with in-page position."""
    from sssom_curator_spark.operators.weblinks import extract_links

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_links(_link_pages(docs)).select(
        "url", F.col("pos").cast("long").alias("pos"), "href", "anchor"
    )


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level link graph: links grouped by (registered src domain,
    registered dst domain) with link and distinct-page counts."""
    from sssom_curator_spark.operators.weblinks import extract_links, link_graph

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return link_graph(extract_links(_link_pages(docs)))


def q_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web-graph authority chain: html → extract_links →
    domain link graph → fixed-iteration PageRank — the composed pipeline
    a crawl prioritizer runs."""
    from sssom_curator_spark.graph.pagerank import pagerank
    from sssom_curator_spark.operators.weblinks import extract_links, link_graph

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lg = link_graph(extract_links(_link_pages(docs)))
    edges = lg.select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    return pagerank(edges, damping=0.85, iterations=3)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained corpus unigram-LM quality score (textstats.py):
    per-document mean token NLL under the add-1-smoothed corpus unigram
    distribution — the CCNet-style perplexity-proxy filter signal."""
    from sssom_curator_spark.operators.textstats import unigram_logprob_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob_score(docs)


def q_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure (path doubling, graph/closure.py) over a
    lineitem-derived layered DAG vs a DuckDB recursive-CTE oracle — the
    ontology-hierarchy (skos:broader) ancestor-expansion operator."""
    from sssom_curator_spark.graph.closure import transitive_closure

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 2000).select(
        F.concat(F.lit("n"), (F.col("l_orderkey") % 80).cast("string")).alias("src"),
        F.concat(
            F.lit("n"), (F.col("l_orderkey") % 80 + F.col("l_partkey") % 7 + 1).cast("string")
        ).alias("dst"),
    )
    return transitive_closure(edges)


def q_bounded_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS with min hop distance (graph/closure.py) over the
    layered DAG vs a depth-tracking recursive-CTE oracle."""
    import pandas as pd

    from sssom_curator_spark.graph.closure import bounded_reachability

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 2000).select(
        F.concat(F.lit("n"), (F.col("l_orderkey") % 80).cast("string")).alias("src"),
        F.concat(
            F.lit("n"), (F.col("l_orderkey") % 80 + F.col("l_partkey") % 7 + 1).cast("string")
        ).alias("dst"),
    )
    seeds = spark.createDataFrame(pd.DataFrame({"node": ["n0", "n1", "n2"]}))
    return bounded_reachability(edges, seeds, max_depth=4)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration damped PageRank with dangling redistribution
    (graph/pagerank.py) vs a DuckDB oracle that chains one CTE per
    iteration — deterministic, so the hash comparison is exact at 6 dp."""
    from sssom_curator_spark.graph.pagerank import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") < 3000).select(
        F.concat(F.lit("p"), (F.col("l_orderkey") % 60).cast("string")).alias("src"),
        F.concat(F.lit("p"), (F.col("l_partkey") % 60).cast("string")).alias("dst"),
    )
    return pagerank(edges, damping=0.85, iterations=5)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "prefix_pair_counts": q_prefix_pair_counts,
        "conjunctive_filter": q_conjunctive_filter,
        "confidence_cutoff": q_confidence_cutoff,
        "state_pagination": q_state_pagination,
        "grounding_join": q_grounding_join,
        "all_by_all_pairs": q_all_by_all_pairs,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "union_merge": q_union_merge,
        "dedup_exact": q_dedup_exact,
        "canonical_sort_page": q_canonical_sort_page,
        "token_counts": q_token_counts,
        "window_topn": q_window_topn,
        "tumbling_window": q_tumbling_window,
        "hopping_window": q_hopping_window,
        "cohort_retention": q_cohort_retention,
        "funnel": q_funnel,
        "rate_anomaly": q_rate_anomaly,
        "connected_components": q_connected_components,
        "transitive_closure": q_transitive_closure,
        "bounded_reachability": q_bounded_reachability,
        "pagerank": q_pagerank,
        "extract_links": q_extract_links,
        "link_graph": q_link_graph,
        "domain_rank": q_domain_rank,
        "chunk_documents": q_chunk_documents,
        "blocklist_filter": q_blocklist_filter,
        "anchor_grounding": q_anchor_grounding,
        "crawl_diff": q_crawl_diff,
        "group_topk_sample": q_group_topk_sample,
        "weighted_sample": q_weighted_sample,
        "triangle_counts": q_triangle_counts,
        "degree_histogram": q_degree_histogram,
        "k_core": q_k_core,
        "assortativity": q_assortativity,
        "hits": q_hits,
        "personalized_pagerank": q_personalized_pagerank,
        "domain_rank_weighted": q_domain_rank_weighted,
        "exact_quantiles": q_exact_quantiles,
        "neighbor_jaccard": q_neighbor_jaccard,
        "label_propagation": q_label_propagation,
        "bigram_pmi": q_bigram_pmi,
        "zipf_fit": q_zipf_fit,
        "corpus_card": q_corpus_card,
        "comention_edges": q_comention_edges,
        "edit_distance_pairs": q_edit_distance_pairs,
        "canonicalize": q_canonicalize,
        "component_sizes": q_component_sizes,
        "exact_dedup_docs": q_exact_dedup_docs,
        "minhash_lsh": q_minhash_lsh,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_topk": q_ann_topk,
        "embedding_simjoin": q_embedding_simjoin,
        "langid_quality": q_langid_quality,
        "fingerprint": q_fingerprint,
        "token_count_bpe": q_token_count_bpe,
        "paragraph_dedup": q_paragraph_dedup,
        "url_canonicalize": q_url_canonicalize,
        "near_dedup_apply": q_near_dedup_apply,
        "domain_stats": q_domain_stats,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "mixture_weights": q_mixture_weights,
        "pack_sequences": q_pack_sequences,
        "pii_redact": q_pii_redact,
        "vocab_stats": q_vocab_stats,
        "unigram_logprob": q_unigram_logprob,
        "bpe_pairs": q_bpe_pairs,
        "bpe_train": q_bpe_train,
        "bpe_encode": q_bpe_encode,
        "tfidf_topk": q_tfidf_topk,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "hypertable_rollup": q_hypertable_rollup,
        "kmins_distinct": q_kmins_distinct,
        "dup_span_stats": q_dup_span_stats,
        "crawl_merge": q_crawl_merge,
        "session_window": q_session_window,
        "kmeans": q_kmeans,
        "dsir_weights": q_dsir_weights,
        "repetition_stats": q_repetition_stats,
        "decontaminate": q_decontaminate,
        "decontaminate_stream": q_decontaminate_stream,
        "first_seen_stream": q_first_seen_stream,
        "mention_candidates": q_mention_candidates,
        "record_hash": q_record_hash,
        "curie_standardize": q_curie_standardize,
        "simhash_neardup": q_simhash_neardup,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "media_frames": q_media_frames,
        "embedding_neardup": q_embedding_neardup,
        "curation_marks": q_curation_marks,
        "insert_roundtrip": q_insert_roundtrip,
        "kg_pipeline": q_kg_pipeline,
        "kg_evidence_boost": q_kg_evidence_boost,
        "contributor_counts": q_contributor_counts,
        "redundancy_report": q_redundancy_report,
        "curie_uri_expand": q_curie_uri_expand,
        "size_histogram": q_size_histogram,
        "same_text_filter": q_same_text_filter,
        "missing_edges": q_missing_edges,
        "unstable_components": q_unstable_components,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_SHINGLES_CTE = """
toks AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""

_TC_ORACLE = """
WITH RECURSIVE
e AS MATERIALIZED (
  SELECT DISTINCT 'n' || CAST(l_orderkey % 80 AS VARCHAR) AS src,
                  'n' || CAST(l_orderkey % 80 + l_partkey % 7 + 1 AS VARCHAR) AS dst
  FROM lineitem WHERE l_orderkey < 2000
),
base AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst),
reach(src, dst) AS (
  SELECT src, dst FROM base
  UNION
  SELECT r.src, b.dst FROM reach r JOIN base b ON r.dst = b.src
)
SELECT src, dst FROM reach
"""


# Synthetic link-bearing pages derived deterministically from `documents`
# (both engines build byte-identical html, so the regex extraction is
# value-comparable): every doc links once into a 37-site .example.com farm
# (all collapsing to ONE registered domain) and once into an 11-domain
# .org ring; the first normalized word of the doc text is the anchor.
_LINK_RE_SQL = '<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
_LINKS_CTES = f"""pages AS MATERIALIZED (
  SELECT 'http://src' || CAST(doc_id % 23 AS VARCHAR) || '.net/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         '<html><body><p>Visit <a href="http://site' || CAST(doc_id % 37 AS VARCHAR)
           || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">'
           || coalesce(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                   w -> w <> '')[1], 'page')
           || '</a> and <a rel="x" href="https://www.site' || CAST(doc_id % 11 AS VARCHAR)
           || '.org/q?ref=' || CAST(doc_id % 5 AS VARCHAR) || '">'
           || coalesce(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                   w -> w <> '')[2], 'link two')
           || '</a></p></body></html>' AS html
  FROM documents
),
tags AS MATERIALIZED (
  SELECT url, regexp_extract_all(html, '{_LINK_RE_SQL}', 0) AS ts
  FROM pages
),
links AS MATERIALIZED (
  SELECT url, i - 1 AS pos,
         regexp_extract(ts[i], '{_LINK_RE_SQL}', 1) AS href,
         regexp_extract(ts[i], '{_LINK_RE_SQL}', 2) AS anchor
  FROM tags, UNNEST(generate_series(1, len(ts))) AS u(i)
)"""


def _hits_oracle_sql(base_body: str, *, iterations: int = 5) -> str:
    """Replays graph/hits.py: per iteration one authority half-step and
    one hub half-step, each L2-normalized via a one-row CTE. MATERIALIZED
    throughout (each frame has multiple consumers)."""
    parts = [
        f"""base AS MATERIALIZED ({base_body}),
nodes AS MATERIALIZED (SELECT src AS node FROM base UNION SELECT dst FROM base),
h0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) AS hub FROM nodes)"""
    ]
    for k in range(iterations):
        parts.append(
            f"""ar{k} AS MATERIALIZED (
  SELECT n.node, coalesce(s.a, CAST(0 AS DOUBLE)) AS authority
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(h.hub) AS a
    FROM base e JOIN h{k} h ON h.node = e.src GROUP BY e.dst
  ) s ON s.node = n.node
),
an{k} AS MATERIALIZED (
  SELECT sqrt(sum(authority * authority)) AS nrm FROM ar{k}
),
a{k + 1} AS MATERIALIZED (
  SELECT node, CASE WHEN nrm > 0 THEN authority / nrm ELSE 0 END AS authority
  FROM ar{k} CROSS JOIN an{k}
),
hr{k} AS MATERIALIZED (
  SELECT n.node, coalesce(s.h, CAST(0 AS DOUBLE)) AS hub
  FROM nodes n LEFT JOIN (
    SELECT e.src AS node, sum(a.authority) AS h
    FROM base e JOIN a{k + 1} a ON a.node = e.dst GROUP BY e.src
  ) s ON s.node = n.node
),
hn{k} AS MATERIALIZED (SELECT sqrt(sum(hub * hub)) AS nrm FROM hr{k}),
h{k + 1} AS MATERIALIZED (
  SELECT node, CASE WHEN nrm > 0 THEN hub / nrm ELSE 0 END AS hub
  FROM hr{k} CROSS JOIN hn{k}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT h.node, round(h.hub + 1e-9, 6) AS hub,
       round(a.authority + 1e-9, 6) AS authority
FROM h{iterations} h JOIN a{iterations} a ON a.node = h.node"""
    )


def _kcore_oracle_sql(base_body: str, k: int, *, rounds: int = 12) -> str:
    """Replays graph/stats.py k_core with a FIXED round count: peeling is
    monotone and idempotent at the fixpoint, so extra rounds are no-ops —
    ``rounds`` just has to exceed the actual peel depth on the data."""
    parts = [
        f"""e0 AS MATERIALIZED ({base_body}),
g0 AS MATERIALIZED (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM e0 WHERE s <> t
)"""
    ]
    for i in range(rounds):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT n, count(*) AS d FROM (
    SELECT u AS n FROM g{i} UNION ALL SELECT v FROM g{i}
  ) GROUP BY n
),
keep{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE d >= {k}),
g{i + 1} AS MATERIALIZED (
  SELECT u, v FROM g{i}
  WHERE u IN (SELECT n FROM keep{i}) AND v IN (SELECT n FROM keep{i})
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT n AS node, count(*) AS core_degree FROM (
  SELECT u AS n FROM g{rounds} UNION ALL SELECT v FROM g{rounds}
) GROUP BY n"""
    )


def _labelprop_oracle_sql(base_body: str, *, iterations: int = 4) -> str:
    """Replays graph/labelprop.py: synchronous rounds, argmax by
    (count DESC, label ASC) via a window row_number per node."""
    parts = [
        f"""e0 AS MATERIALIZED ({base_body}),
und AS MATERIALIZED (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM e0 WHERE s <> t
),
adj AS MATERIALIZED (SELECT u AS n, v AS m FROM und UNION ALL SELECT v, u FROM und),
l0 AS MATERIALIZED (SELECT DISTINCT n AS node, n AS label FROM adj)"""
    ]
    for k in range(iterations):
        parts.append(
            f"""v{k} AS MATERIALIZED (
  SELECT a.n, l.label, count(*) AS c
  FROM adj a JOIN l{k} l ON l.node = a.m GROUP BY a.n, l.label
),
l{k + 1} AS MATERIALIZED (
  SELECT n AS node, label FROM (
    SELECT n, label,
           row_number() OVER (PARTITION BY n ORDER BY c DESC, label ASC) AS rn
    FROM v{k}
  ) WHERE rn = 1
)"""
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, label FROM l{iterations}"


def _ppr_oracle_sql(
    base_body: str,
    seeds_list: str,
    *,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """Replays graph/pagerank.py personalized_pagerank: seed-uniform
    teleport vector, dangling mass restarts at the seeds."""
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        f"""base AS MATERIALIZED ({base_body}),
nodes AS MATERIALIZED (SELECT src AS node FROM base UNION SELECT dst FROM base),
sseed AS MATERIALIZED (
  SELECT DISTINCT node FROM nodes WHERE node IN ({seeds_list})
),
nseed AS MATERIALIZED (SELECT count(*) AS ns FROM sseed),
tele AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN n.node IN (SELECT node FROM sseed)
              THEN CAST(1 AS DOUBLE) / nseed.ns ELSE CAST(0 AS DOUBLE) END AS t
  FROM nodes n CROSS JOIN nseed
),
outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM base GROUP BY src),
r0 AS MATERIALIZED (SELECT node, t AS rank FROM tele)"""
    ]
    for k in range(iterations):
        parts.append(
            f"""d{k} AS MATERIALIZED (
  SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dang FROM r{k}
  WHERE node NOT IN (SELECT src FROM base)
),
c{k} AS MATERIALIZED (
  SELECT b.dst AS node, sum(r.rank / o.deg) AS contrib
  FROM base b JOIN r{k} r ON r.node = b.src JOIN outdeg o ON o.src = b.src
  GROUP BY b.dst
),
r{k + 1} AS MATERIALIZED (
  SELECT n.node,
         (CAST(1 AS DOUBLE) - {d}) * te.t
           + {d} * (coalesce(c.contrib, CAST(0 AS DOUBLE)) + d{k}.dang * te.t)
           AS rank
  FROM nodes n
  JOIN tele te ON te.node = n.node
  CROSS JOIN d{k}
  LEFT JOIN c{k} c ON c.node = n.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, round(rank + 1e-9, 6) AS rank FROM r{iterations}"
    )


def _pagerank_oracle_sql(
    base_body: str,
    *,
    pre_ctes: str = "",
    iterations: int = 5,
    damping: float = 0.85,
    weighted: bool = False,
) -> str:
    """One CTE chain per power iteration — replays graph/pagerank.py
    exactly (uniform init, damped contributions, dangling-mass
    redistribution, final round at 6 dp) over ``base_body`` (a SELECT
    producing distinct non-null (src, dst); ``pre_ctes`` prepends extra
    MATERIALIZED CTEs it depends on). MATERIALIZED everywhere: r{k} is
    referenced by THREE consumers (d{k}, c{k}, r{k+1}) and DuckDB would
    otherwise re-inline the whole chain exponentially."""
    d = f"CAST({damping} AS DOUBLE)"
    # weighted: base_body must also produce a DOUBLE column w (pre-summed
    # per distinct edge); rank flows proportionally to w
    deg_expr = "sum(w)" if weighted else "count(*)"
    num = "r.rank * b.w" if weighted else "r.rank"
    parts = [
        f"""{pre_ctes}base AS MATERIALIZED ({base_body}),
nodes AS MATERIALIZED (SELECT src AS node FROM base UNION SELECT dst FROM base),
nc AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
outdeg AS MATERIALIZED (SELECT src, {deg_expr} AS deg FROM base GROUP BY src),
r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / nc.n AS rank FROM nodes CROSS JOIN nc)"""
    ]
    for k in range(iterations):
        parts.append(
            f"""d{k} AS MATERIALIZED (
  SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dang FROM r{k}
  WHERE node NOT IN (SELECT src FROM base)
),
c{k} AS MATERIALIZED (
  SELECT b.dst AS node, sum({num} / o.deg) AS contrib
  FROM base b JOIN r{k} r ON r.node = b.src JOIN outdeg o ON o.src = b.src
  GROUP BY b.dst
),
r{k + 1} AS MATERIALIZED (
  SELECT n.node,
         (CAST(1 AS DOUBLE) - {d}) / nc.n
           + {d} * (coalesce(c.contrib, CAST(0 AS DOUBLE)) + d{k}.dang / nc.n) AS rank
  FROM nodes n CROSS JOIN nc CROSS JOIN d{k}
  LEFT JOIN c{k} c ON c.node = n.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, round(rank + 1e-9, 6) AS rank FROM r{iterations}"
    )


_CC_ORACLE = """
WITH RECURSIVE
edges AS (
  SELECT DISTINCT 'a' || CAST(l_orderkey % 97 AS VARCHAR) AS u,
                  'b' || CAST(l_partkey % 101 AS VARCHAR) AS v
  FROM lineitem WHERE l_orderkey < 400
),
sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
nodes AS (SELECT u FROM sym),
reach(u, v) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
)
SELECT u AS node, min(v) AS component FROM reach GROUP BY u
"""


#: URL canonicalization CTE chain (assumes a preceding ``raw(url)`` CTE):
#: replays functions/url_ops.canonicalize_url step-for-step — fragment
#: strip, malformed (no '://') trimmed passthrough via the ``mal`` branch,
#: scheme/host lowercasing, default-port drop, tracking-param filter +
#: bytewise sort, trailing-slash strip — ending in ``canon(canonical_url)``
#: with one row per input row.
_URL_CANON_CTES = """
            nofrag AS MATERIALIZED (
              SELECT trim(url) AS raw_t, string_split(trim(url), '#')[1] AS u FROM raw
            ),
            mal AS MATERIALIZED (
              SELECT raw_t AS canonical_url FROM nofrag WHERE strpos(u, '://') = 0
            ),
            parts AS MATERIALIZED (
              SELECT CASE WHEN strpos(u, '?') > 0 THEN u[1:strpos(u,'?')-1] ELSE u END AS pre_q,
                     CASE WHEN strpos(u, '?') > 0 THEN u[strpos(u,'?')+1:] ELSE '' END AS q
              FROM nofrag WHERE strpos(u, '://') > 0
            ),
            sch AS MATERIALIZED (
              SELECT lower(pre_q[1:strpos(pre_q,'://')-1]) AS scheme,
                     pre_q[strpos(pre_q,'://')+3:] AS rest, q
              FROM parts
            ),
            hostpath AS MATERIALIZED (
              SELECT scheme, q,
                     CASE WHEN strpos(rest,'/') > 0 THEN rest[1:strpos(rest,'/')-1] ELSE rest END AS hostport,
                     CASE WHEN strpos(rest,'/') > 0 THEN rest[strpos(rest,'/'):] ELSE '' END AS path
              FROM sch
            ),
            hp AS MATERIALIZED (
              SELECT scheme, path,
                     lower(CASE WHEN strpos(hostport,':') > 0 THEN hostport[1:strpos(hostport,':')-1] ELSE hostport END) AS host,
                     CASE WHEN strpos(hostport,':') > 0 THEN hostport[strpos(hostport,':')+1:] ELSE '' END AS port,
                     list_sort(list_filter(string_split(q, '&'),
                       p -> p <> '' AND NOT starts_with(p, 'utm_')
                            AND NOT starts_with(p, 'fbclid=')
                            AND NOT starts_with(p, 'gclid='))) AS keep
              FROM hostpath
            ),
            canon AS MATERIALIZED (
              SELECT scheme || '://' ||
                     CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                               OR (scheme = 'https' AND port = '443')
                          THEN host ELSE host || ':' || port END ||
                     regexp_replace(path, '/+$', '') ||
                     CASE WHEN len(keep) > 0 THEN '?' || array_to_string(keep, '&') ELSE '' END
                       AS canonical_url
              FROM hp
              UNION ALL
              SELECT canonical_url FROM mal
            )"""


def oracle_sql() -> dict[str, str]:
    from sssom_curator_spark.operators.sampling import hex_threshold as _ht

    mh_mins = ",\n    ".join(
        f"min(substr(md5('{i // 4}' || '|' || shingle), {1 + 8 * (i % 4)}, 8)) AS mh_{i}"
        for i in range(16)
    )
    band_keys = " ".join(
        f"WHEN {b} THEN md5(mh_{2 * b} || '|' || mh_{2 * b + 1})" for b in range(8)
    )
    # shared MinHash-LSH CTE chain (shingle → signature → band → candidate
    # → verified pair): minhash_lsh selects from it directly;
    # near_dedup_apply extends it with a recursive connected-components
    # pass and the corpus anti-join.
    _mh_pair_ctes = f"""{_SHINGLES_CTE},
            sig AS (SELECT doc_id, {mh_mins} FROM sh GROUP BY doc_id),
            banded AS (
              SELECT doc_id, b.band,
                     CASE b.band {band_keys} END AS key
              FROM sig, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS b(band)
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
            ),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
              GROUP BY c.doc_a, c.doc_b
            ),
            mh_pairs AS (
              SELECT c.doc_a, c.doc_b,
                     round(coalesce(i.inter, 0) * 1.0 / (sa.n + sb.n - coalesce(i.inter, 0)) + 0.000000001, 6) AS jaccard
              FROM cand c
              LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
              JOIN sizes sa ON sa.doc_id = c.doc_a
              JOIN sizes sb ON sb.doc_id = c.doc_b
            )"""
    stop_list = "[" + ", ".join(f"'{w}'" for w in _EN_STOP) + "]"
    de = "['der','die','das','und','ist','nicht','mit','ein','zu','den']"
    es = "['el','la','de','que','y','en','un','es','los','por']"
    fr = "['le','la','de','et','un','est','pour','que','dans','les']"

    sql = {
        "prefix_pair_counts": """
            SELECT least(l_returnflag, l_linestatus) AS source_key,
                   greatest(l_returnflag, l_linestatus) AS target_key,
                   count(*) AS pair_count
            FROM lineitem GROUP BY 1, 2
        """,
        "conjunctive_filter": """
            SELECT l_returnflag, count(*) AS n,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_returnflag IN ('A','R') AND l_quantity >= 25 AND l_discount < 0.05
            GROUP BY l_returnflag
        """,
        "confidence_cutoff": """
            SELECT event_type, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events WHERE value >= 50.0 GROUP BY event_type
        """,
        "state_pagination": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE lower(o_orderpriority) LIKE '%urgent%'
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 5
        """,
        "grounding_join": """
            SELECT p_name, count(*) AS n_items,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_name
        """,
        "all_by_all_pairs": """
            WITH pw AS (SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part),
                 pt AS (SELECT DISTINCT lower(p_type) AS t FROM part)
            SELECT 'PW:' || w AS subject_id, 'PT:' || t AS object_id
            FROM pw JOIN pt ON w = t
        """,
        "anti_join": """
            SELECT c_mktsegment, count(*) AS n FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            GROUP BY c_mktsegment
        """,
        "semi_join": """
            SELECT s_nationkey, count(*) AS n FROM supplier
            WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
            GROUP BY s_nationkey
        """,
        "union_merge": """
            SELECT event_type, count(*) AS n FROM (
              SELECT * FROM events WHERE value >= 80.0
              UNION ALL
              SELECT * FROM events WHERE event_type = 'error'
            ) GROUP BY event_type
        """,
        "dedup_exact": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "canonical_sort_page": """
            SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
            ORDER BY l_returnflag, l_linestatus, l_orderkey, l_linenumber LIMIT 30
        """,
        "token_counts": """
            SELECT word, count(*) AS n FROM (
              SELECT unnest(string_split(text, ' ')) AS word FROM documents
            ) GROUP BY word
        """,
        "window_topn": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "tumbling_window": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "rate_anomaly": """
            WITH counts AS MATERIALIZED (
              SELECT event_type,
                     strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS bucket_ts,
                     count(*) AS n
              FROM events GROUP BY 1, 2
            ),
            m AS MATERIALIZED (
              SELECT event_type, avg(n) AS mu,
                     sqrt(greatest(avg(n * n) - avg(n) * avg(n), 0.0)) AS sigma
              FROM counts GROUP BY event_type
            )
            SELECT c.event_type, c.bucket_ts, c.n,
                   CASE WHEN m.sigma > 0
                        THEN round((c.n - m.mu) / m.sigma + 1e-9, 6)
                   END AS z
            FROM counts c JOIN m ON m.event_type = c.event_type
        """,
        "funnel": """
            WITH s1 AS MATERIALIZED (
              SELECT user_id AS u, min(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS MATERIALIZED (
              SELECT e.user_id AS u, min(e.ts) AS t
              FROM events e JOIN s1 ON s1.u = e.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t
              GROUP BY e.user_id
            ),
            s3 AS MATERIALIZED (
              SELECT e.user_id AS u, min(e.ts) AS t
              FROM events e JOIN s2 ON s2.u = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t
              GROUP BY e.user_id
            ),
            c AS (
              SELECT CAST(1 AS BIGINT) AS step_index, 'view' AS step,
                     (SELECT count(*) FROM s1) AS n_users
              UNION ALL
              SELECT 2, 'click', (SELECT count(*) FROM s2)
              UNION ALL
              SELECT 3, 'purchase', (SELECT count(*) FROM s3)
            )
            SELECT step_index, step, n_users,
                   CASE WHEN (SELECT count(*) FROM s1) = 0 THEN 0.0
                        ELSE round(n_users / CAST((SELECT count(*) FROM s1)
                                                  AS DOUBLE) + 1e-9, 6)
                   END AS conversion
            FROM c
        """,
        "cohort_retention": """
            WITH first AS MATERIALIZED (
              SELECT user_id AS u, min(ts) AS first_ts FROM events GROUP BY user_id
            ),
            rows_ AS (
              SELECT strftime(date_trunc('week', f.first_ts), '%Y-%m-%d') AS cohort_week,
                     CAST((epoch(date_trunc('week', e.ts))
                           - epoch(date_trunc('week', f.first_ts))) / 604800 AS BIGINT)
                       AS week_offset,
                     e.user_id AS usr
              FROM events e JOIN first f ON f.u = e.user_id
            ),
            act AS (
              SELECT cohort_week, week_offset, count(DISTINCT usr) AS n_users
              FROM rows_ GROUP BY 1, 2
            ),
            sizes AS (
              SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort_week,
                     count(*) AS cohort_size
              FROM first GROUP BY 1
            )
            SELECT a.cohort_week, a.week_offset, a.n_users, s.cohort_size,
                   round(a.n_users / CAST(s.cohort_size AS DOUBLE) + 1e-9, 6)
                     AS retention
            FROM act a JOIN sizes s ON s.cohort_week = a.cohort_week
        """,
        "hopping_window": """
            WITH e AS MATERIALIZED (
              -- floor, not CAST: CAST(double AS BIGINT) rounds in DuckDB and
              -- a fractional-second event would jump the 900 s boundary
              SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
              FROM events
            ),
            x AS (
              -- size 1800s, slide 900s: every event lands in exactly two
              -- epoch-aligned windows (base and base - slide)
              SELECT strftime(TIMESTAMP '1970-01-01 00:00:00'
                                + ((es - es % 900) - 900 * k) * INTERVAL '1 second',
                              '%Y-%m-%d %H:%M:%S') AS win_start,
                     event_type, value
              FROM e, UNNEST(generate_series(0, 1)) AS u(k)
            )
            SELECT win_start, event_type, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM x GROUP BY 1, 2
        """,
        "connected_components": _CC_ORACLE,
        "transitive_closure": _TC_ORACLE,
        "bounded_reachability": """
            WITH RECURSIVE
            e AS MATERIALIZED (
              SELECT DISTINCT 'n' || CAST(l_orderkey % 80 AS VARCHAR) AS src,
                              'n' || CAST(l_orderkey % 80 + l_partkey % 7 + 1 AS VARCHAR) AS dst
              FROM lineitem WHERE l_orderkey < 2000
            ),
            gnodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            r(node, d) AS (
              SELECT node, 0 FROM gnodes WHERE node IN ('n0', 'n1', 'n2')
              UNION
              SELECT x.dst, r.d + 1 FROM r JOIN e x ON x.src = r.node WHERE r.d < 4
            )
            SELECT node, CAST(min(d) AS BIGINT) AS dist FROM r GROUP BY node
        """,
        "pagerank": _pagerank_oracle_sql(
            """
  SELECT DISTINCT 'p' || CAST(l_orderkey % 60 AS VARCHAR) AS src,
                  'p' || CAST(l_partkey % 60 AS VARCHAR) AS dst
  FROM lineitem WHERE l_orderkey < 3000
""",
            iterations=5,
            damping=0.85,
        ),
        "extract_links": f"""
            WITH {_LINKS_CTES}
            SELECT url, pos, href, anchor FROM links
        """,
        "link_graph": f"""
            WITH {_LINKS_CTES},
            doms AS (
              SELECT regexp_extract(lower(regexp_extract(url, '://([^/]+)', 1)),
                                    '[^.]+\\.[^.]+$', 0) AS src_domain,
                     regexp_extract(lower(regexp_extract(href, '://([^/]+)', 1)),
                                    '[^.]+\\.[^.]+$', 0) AS dst_domain,
                     url AS page
              FROM links
            )
            SELECT src_domain, dst_domain, count(*) AS n_links,
                   count(DISTINCT page) AS n_pages
            FROM doms GROUP BY src_domain, dst_domain
        """,
        "domain_rank": _pagerank_oracle_sql(
            """
  SELECT DISTINCT
    regexp_extract(lower(regexp_extract(url, '://([^/]+)', 1)),
                   '[^.]+\\.[^.]+$', 0) AS src,
    regexp_extract(lower(regexp_extract(href, '://([^/]+)', 1)),
                   '[^.]+\\.[^.]+$', 0) AS dst
  FROM links
""",
            pre_ctes=_LINKS_CTES + ",\n",
            iterations=3,
            damping=0.85,
        ),
        "canonicalize": f"""
            WITH cc AS ({_CC_ORACLE}),
            e AS (
              SELECT DISTINCT 'a' || CAST(l_orderkey % 97 AS VARCHAR) AS subject_id,
                              'b' || CAST(l_partkey % 101 AS VARCHAR) AS object_id
              FROM lineitem WHERE l_orderkey < 400
            )
            SELECT e.subject_id, e.object_id,
                   coalesce(c1.component, e.subject_id) AS subject_canonical,
                   coalesce(c2.component, e.object_id) AS object_canonical
            FROM e
            LEFT JOIN cc c1 ON c1.node = e.subject_id
            LEFT JOIN cc c2 ON c2.node = e.object_id
        """,
        "component_sizes": f"""
            WITH cc AS ({_CC_ORACLE})
            SELECT component, count(*) AS n_nodes FROM cc GROUP BY component
        """,
        "exact_dedup_docs": """
            SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
        """,
        "minhash_lsh": f"""
            WITH {_mh_pair_ctes}
            SELECT doc_a, doc_b, jaccard FROM mh_pairs WHERE jaccard >= 0.5
        """,
        "near_dedup_apply": f"""
            WITH RECURSIVE {_mh_pair_ctes},
            p2 AS (SELECT doc_a, doc_b FROM mh_pairs WHERE jaccard >= 0.5),
            sym AS (SELECT doc_a AS u, doc_b AS v FROM p2
                    UNION SELECT doc_b, doc_a FROM p2),
            nodes AS (SELECT DISTINCT u FROM sym),
            reach(u, v) AS (
              SELECT u, u FROM nodes
              UNION
              SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            ),
            comp AS (SELECT u AS node, min(v) AS component FROM reach GROUP BY u),
            losers AS (SELECT node FROM comp WHERE node <> component)
            SELECT doc_id, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT node FROM losers)
        """,
        "ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(inter * 1.0 / (sa.n + sb.n - inter) + 0.000000001, 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(inter * 1.0 / (sa.n + sb.n - inter) + 0.000000001, 6) >= 0.5
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
            s AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cosine
              FROM q, embeddings c WHERE q.vec_id <> c.vec_id
            ),
            r AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
              FROM s
            )
            SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        """,
        "embedding_simjoin": """
            WITH e AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding FROM embeddings),
            s AS (SELECT id, embedding FROM e WHERE CAST(id AS BIGINT) < 50)
            SELECT s.id AS source_id, e.id AS target_id,
                   round(list_cosine_similarity(s.embedding::DOUBLE[], e.embedding::DOUBLE[]), 3) AS cosine
            FROM s, e
            WHERE list_cosine_similarity(s.embedding::DOUBLE[], e.embedding::DOUBLE[]) >= 0.3
              AND s.id <> e.id
        """,
        "langid_quality": f"""
            WITH base AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                                       '\\s+'),
                                 x -> x <> '') AS w
              FROM documents
            ),
            feat AS (
              SELECT doc_id,
                     len(w) AS n_words,
                     length(text) AS n_chars,
                     len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                     len(list_filter(w, x -> list_contains({stop_list}, x))) AS en_hits,
                     len(list_filter(w, x -> list_contains({de}, x))) AS de_hits,
                     len(list_filter(w, x -> list_contains({es}, x))) AS es_hits,
                     len(list_filter(w, x -> list_contains({fr}, x))) AS fr_hits
              FROM base
            ),
            scored AS (
              SELECT doc_id, n_words,
                     CASE WHEN n_words > 0 THEN en_hits * 1.0 / n_words ELSE 0.0 END AS en_s,
                     CASE WHEN n_words > 0 THEN de_hits * 1.0 / n_words ELSE 0.0 END AS de_s,
                     CASE WHEN n_words > 0 THEN es_hits * 1.0 / n_words ELSE 0.0 END AS es_s,
                     CASE WHEN n_words > 0 THEN fr_hits * 1.0 / n_words ELSE 0.0 END AS fr_s,
                     round(CASE WHEN n_words > 0 THEN en_hits * 1.0 / n_words ELSE 0.0 END + 0.000000001, 4) AS stopword_ratio,
                     round(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END + 0.000000001, 4) AS punct_ratio
              FROM feat
            ),
            best AS (
              SELECT doc_id, n_words, stopword_ratio, punct_ratio,
                     list_aggregate([
                       struct_pack(score := de_s, lang := 'de'),
                       struct_pack(score := en_s, lang := 'en'),
                       struct_pack(score := es_s, lang := 'es'),
                       struct_pack(score := fr_s, lang := 'fr')
                     ], 'max') AS s
              FROM scored
            )
            SELECT doc_id,
                   CASE WHEN s.score > 0 THEN s.lang ELSE 'und' END AS lang_pred,
                   round(s.score + 0.000000001, 4) AS lang_score,
                   round(0.4 * least(n_words / 50.0, 1.0)
                       + 0.3 * greatest(0.0, 1.0 - punct_ratio * 4)
                       + 0.3 * least(stopword_ratio * 3, 1.0) + 0.000000001, 4) AS quality
            FROM best
        """,
        "fingerprint": """
            WITH c AS (
              SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS c FROM documents
            )
            SELECT doc_id, md5(c) AS content_hash,
                   CASE WHEN length(c) >= 8
                        THEN list_min(list_transform(generate_series(1, length(c) - 7, 4),
                                                     i -> md5(substr(c, i, 8))))
                        ELSE md5(c) END AS min_gram_hash
            FROM c
        """,
        "token_count_bpe": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "paragraph_dedup": """
            WITH d2 AS (
              SELECT doc_id, text || chr(10) || 'all rights reserved' ||
                     CASE WHEN doc_id % 3 = 0
                          THEN chr(10) || 'subscribe to our newsletter' ELSE '' END ||
                     chr(10) || 'uid ' || CAST(doc_id AS VARCHAR) AS text
              FROM documents
            ),
            paras AS (
              SELECT doc_id, i AS pos, p[i] AS para
              FROM (SELECT doc_id, string_split(text, chr(10)) AS p FROM d2),
                   UNNEST(generate_series(1, len(p))) AS u(i)
            ),
            hot AS (
              SELECT para FROM (
                SELECT para, count(DISTINCT doc_id) AS d
                FROM paras WHERE trim(para) <> '' GROUP BY 1
              ) WHERE d > 1
            ),
            kept AS (SELECT * FROM paras WHERE para NOT IN (SELECT para FROM hot)),
            agg AS (
              SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
              FROM kept GROUP BY doc_id
            )
            SELECT d2.doc_id, coalesce(agg.text, '') AS text
            FROM d2 LEFT JOIN agg USING (doc_id)
        """,
        "url_canonicalize": f"""
            WITH raw AS (
              SELECT CASE WHEN o_orderkey % 7 = 0
                       THEN '  www.shop.com/Item/' || CAST(o_custkey % 50 AS VARCHAR)
                            || '?a=1#frag '
                       ELSE CASE o_orderkey % 3
                              WHEN 0 THEN 'HTTP://WWW.Shop.COM:80'
                              WHEN 1 THEN 'https://www.shop.com:443'
                              ELSE 'https://shop.com' END
                            || '/Item/' || CAST(o_custkey % 50 AS VARCHAR)
                            || CASE WHEN o_orderkey % 2 = 0 THEN '/?utm_source=mail&b=2&a=1'
                                    ELSE '?a=1&b=2&fbclid=x' END
                            || CASE WHEN o_orderkey % 5 = 0 THEN '#top' ELSE '' END
                     END AS url
              FROM orders
            ),{_URL_CANON_CTES}
            SELECT canonical_url, count(*) AS n FROM canon GROUP BY 1
        """,
        "domain_stats": f"""
            WITH raw AS MATERIALIZED (
              SELECT CASE WHEN o_orderkey % 11 = 0 THEN '  site-relative/path?x=1 '
                       ELSE 'https://www.site' || CAST(o_custkey % 7 AS VARCHAR)
                            || '.com/p/' || CAST(o_orderkey % 40 AS VARCHAR)
                            || CASE WHEN o_orderkey % 2 = 0 THEN '?utm_source=x&q=1'
                                    ELSE '?q=1' END
                     END AS url
              FROM orders
            ),{_URL_CANON_CTES},
            dom AS MATERIALIZED (
              SELECT canonical_url,
                     CASE WHEN strpos(canonical_url, '://') > 0 THEN
                       lower(string_split(string_split(string_split(
                         canonical_url[strpos(canonical_url,'://')+3:], '/')[1], '?')[1], ':')[1])
                     END AS host
              FROM canon
            ),
            dom2 AS MATERIALIZED (
              SELECT canonical_url,
                     CASE WHEN host IS NULL THEN NULL
                          WHEN len(string_split(host, '.')) >= 2
                          THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                          ELSE host END AS domain
              FROM dom
            ),
            kept AS MATERIALIZED (
              SELECT * FROM dom2
              WHERE domain IS NULL OR domain NOT IN ('site0.com', 'site3.com')
            )
            SELECT coalesce(domain, '(none)') AS domain, count(*) AS n_pages,
                   count(DISTINCT canonical_url) AS n_urls
            FROM kept GROUP BY 1
        """,
        "hash_split": f"""
            SELECT doc_id,
                   CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{_ht(0.9)}' THEN 'train'
                        WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{_ht(0.95)}' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE substr(md5('strata|' || CAST(doc_id AS VARCHAR)), 1, 8) <
                  CASE WHEN lang = 'en' THEN '{_ht(0.8)}'
                       WHEN lang = 'de' THEN '{_ht(0.3)}'
                       ELSE '{_ht(0.05)}' END
        """,
        "mixture_weights": """
            WITH stats AS MATERIALIZED (
              SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_tokens
              FROM documents GROUP BY lang
            ),
            tgt(lang, t) AS (
              VALUES ('en', CAST(0.5 AS DOUBLE)),
                     ('de', CAST(0.25 AS DOUBLE)),
                     ('es', CAST(0.25 AS DOUBLE))
            ),
            j AS (
              SELECT s.lang, s.n_tokens, t.t
              FROM stats s JOIN tgt t USING (lang) WHERE t.t > 0
            ),
            m AS (SELECT *, min(n_tokens / t) OVER () AS c FROM j)
            SELECT lang, t AS target_frac,
                   floor(c * t / n_tokens * 1e9 + 0.5) / 1e9 AS keep_rate,
                   CAST(floor(c * t + 0.5) AS BIGINT) AS kept_size
            FROM m
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id, n_chars,
                     substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
              FROM documents
            ),
            c AS (
              SELECT doc_id, bucket,
                     CAST(coalesce(SUM(n_chars) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
              FROM t
            )
            SELECT doc_id, bucket,
                   bucket || '-' || CAST(CAST(floor(cum / 4096.0) AS BIGINT) AS VARCHAR) AS seq_id,
                   cum % 4096 AS offset
            FROM c
        """,
        "pii_redact": f"""
            WITH inj AS (
              SELECT doc_id,
                     text ||
                     CASE WHEN doc_id % 3 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                          WHEN doc_id % 3 = 1
                          THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                               || '.7 call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                               || '-1234'
                          ELSE '' END AS t
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_email,
                   CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS INT) AS n_ipv4,
                   CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phone,
                   md5(regexp_replace(regexp_replace(regexp_replace(t,
                       '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_IPV4}', '<IP>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
            FROM inj
        """,
        "vocab_stats": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       w -> w <> '')) AS token
              FROM documents
            ),
            agg AS (
              SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df_docs
              FROM toks GROUP BY token
            )
            SELECT token, tf, df_docs FROM agg
            WHERE df_docs >= 2
            ORDER BY tf DESC, token ASC
            LIMIT 25
        """,
        "edit_distance_pairs": """
            WITH names0 AS (
              SELECT p_partkey AS id, p_name AS t FROM part WHERE p_partkey < 200
              UNION ALL
              SELECT p_partkey + 1000000, substr(p_name, 1, len(p_name) - 1)
              FROM part WHERE p_partkey < 200 AND p_partkey % 7 = 0
            ),
            names AS MATERIALIZED (
              SELECT id, t FROM names0 WHERE t IS NOT NULL AND t <> ''
            )
            SELECT a.id AS id_a, b.id AS id_b, a.t AS text_a, b.t AS text_b,
                   CAST(levenshtein(a.t, b.t) AS INTEGER) AS distance
            FROM names a JOIN names b
              ON a.id < b.id AND levenshtein(a.t, b.t) <= 1
        """,
        "comention_edges": """
            WITH toks AS (
              SELECT doc_id, string_split(trim(lower(text)), ' ') AS t FROM documents
            ),
            g1 AS (
              SELECT doc_id, t[i] AS gram
              FROM toks, UNNEST(generate_series(1, len(t))) AS u(i) WHERE len(t) >= 1
            ),
            vt AS MATERIALIZED (
              SELECT unnest(list_filter(
                regexp_split_to_array(trim(lower(text)), '\\s+'),
                w -> w <> '')) AS token
              FROM documents
            ),
            words AS MATERIALIZED (
              SELECT token AS w FROM (
                SELECT token, count(*) AS tf FROM vt GROUP BY token
                ORDER BY tf DESC, token ASC LIMIT 25
              )
            ),
            ents AS MATERIALIZED (
              SELECT DISTINCT g.doc_id, 'VOC:' || wd.w AS ent
              FROM g1 g JOIN words wd ON g.gram = wd.w
            )
            SELECT a.ent AS subject_id, b.ent AS object_id, count(*) AS n_docs
            FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.ent < b.ent
            GROUP BY 1, 2
            HAVING count(*) >= 10
        """,
        "zipf_fit": """
            WITH toks AS MATERIALIZED (
              SELECT unnest(list_filter(
                regexp_split_to_array(trim(lower(text)), '\\s+'),
                w -> w <> '')) AS token
              FROM documents
            ),
            top AS MATERIALIZED (
              SELECT token, count(*) AS tf FROM toks GROUP BY token
              ORDER BY tf DESC, token ASC LIMIT 150
            ),
            r AS (
              SELECT ln(CAST(row_number() OVER (ORDER BY tf DESC, token ASC)
                             AS DOUBLE)) AS x,
                     ln(CAST(tf AS DOUBLE)) AS y
              FROM top
            ),
            m AS MATERIALIZED (
              SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                     sum(x * y) AS sxy, sum(x * x) AS sxx
              FROM r
            )
            SELECT n AS n_tokens_fit,
                   CASE WHEN sxx - sx * sx / n = 0 THEN NULL
                        ELSE round((sxy - sx * sy / n) / (sxx - sx * sx / n)
                                   + 1e-9, 6) END AS slope,
                   CASE WHEN sxx - sx * sx / n = 0 THEN NULL
                        ELSE round(sy / n
                                   - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                                     * sx / n + 1e-9, 6) END AS intercept
            FROM m
        """,
        "bigram_pmi": """
            WITH toks AS MATERIALIZED (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                 w -> w <> '') AS t
              FROM documents
            ),
            uni AS MATERIALIZED (
              SELECT w, count(*) AS cw
              FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
            ),
            sc AS MATERIALIZED (
              SELECT CAST(coalesce((SELECT sum(cw) FROM uni), 0) AS DOUBLE) AS t1,
                     CAST(coalesce((SELECT sum(cw) FROM uni), 0) AS DOUBLE)
                       - (SELECT CAST(count(*) AS DOUBLE) FROM toks WHERE len(t) > 0)
                       AS t2
            ),
            big AS MATERIALIZED (
              SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c
              FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 2
              GROUP BY 1, 2
              HAVING count(*) >= 3
            )
            SELECT b.w1, b.w2, b.c,
                   round(ln((b.c / sc.t2) / ((u1.cw / sc.t1) * (u2.cw / sc.t1)))
                         + 1e-9, 6) AS pmi
            FROM big b
            JOIN uni u1 ON u1.w = b.w1
            JOIN uni u2 ON u2.w = b.w2
            CROSS JOIN sc
        """,
        "label_propagation": _labelprop_oracle_sql(
            """
  SELECT DISTINCT 'p' || CAST(l_orderkey % 40 AS VARCHAR) AS s,
                  'p' || CAST(l_partkey % 40 AS VARCHAR) AS t
  FROM lineitem WHERE l_orderkey < 1500
""",
            iterations=4,
        ),
        "neighbor_jaccard": """
            WITH e0 AS MATERIALIZED (
              SELECT DISTINCT 'p' || CAST(l_orderkey % 40 AS VARCHAR) AS s,
                              'p' || CAST(l_partkey % 40 AS VARCHAR) AS t
              FROM lineitem WHERE l_orderkey < 1500
            ),
            und AS MATERIALIZED (
              SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
              FROM e0 WHERE s <> t
            ),
            adj AS MATERIALIZED (
              SELECT u AS n, v AS m FROM und UNION ALL SELECT v, u FROM und
            ),
            deg AS MATERIALIZED (SELECT m, count(*) AS d FROM adj GROUP BY m),
            common AS (
              SELECT a.m AS node_a, b.m AS node_b, count(*) AS common
              FROM adj a JOIN adj b ON a.n = b.n AND a.m < b.m
              GROUP BY 1, 2
            )
            SELECT c.node_a, c.node_b, c.common,
                   round(c.common / (da.d + db.d - c.common) + 1e-9, 6) AS jaccard
            FROM common c
            JOIN deg da ON da.m = c.node_a
            JOIN deg db ON db.m = c.node_b
            -- filter on the ROUNDED value, exactly like the Spark side
            WHERE round(c.common / (da.d + db.d - c.common) + 1e-9, 6) >= 0.2
        """,
        "exact_quantiles": """
            WITH h AS MATERIALIZED (
              SELECT n_chars AS v, count(*) AS c FROM documents
              WHERE n_chars IS NOT NULL GROUP BY n_chars
            ),
            cum AS MATERIALIZED (
              SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
              FROM h
            ),
            t AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM h),
            qs AS (
              SELECT CAST(unnest([0.05, 0.25, 0.5, 0.75, 0.95, 0.99]) AS DOUBLE) AS q
            )
            SELECT q, min(v) AS value
            FROM qs CROSS JOIN t JOIN cum ON cum >= ceil(q * total - 1e-9)
            GROUP BY q
        """,
        "domain_rank_weighted": _pagerank_oracle_sql(
            """
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM (
    SELECT
      regexp_extract(lower(regexp_extract(url, '://([^/]+)', 1)),
                     '[^.]+\\.[^.]+$', 0) AS src,
      regexp_extract(lower(regexp_extract(href, '://([^/]+)', 1)),
                     '[^.]+\\.[^.]+$', 0) AS dst
    FROM links
  ) GROUP BY src, dst
""",
            pre_ctes=_LINKS_CTES + ",\n",
            iterations=3,
            damping=0.85,
            weighted=True,
        ),
        "personalized_pagerank": _ppr_oracle_sql(
            """
  SELECT DISTINCT 'p' || CAST(l_orderkey % 60 AS VARCHAR) AS src,
                  'p' || CAST(l_partkey % 60 AS VARCHAR) AS dst
  FROM lineitem WHERE l_orderkey < 3000
""",
            "'p0', 'p7', 'p13'",
            iterations=4,
            damping=0.85,
        ),
        "hits": _hits_oracle_sql(
            """
  SELECT DISTINCT 'p' || CAST(l_orderkey % 60 AS VARCHAR) AS src,
                  'p' || CAST(l_partkey % 60 AS VARCHAR) AS dst
  FROM lineitem WHERE l_orderkey < 3000
""",
            iterations=5,
        ),
        "assortativity": """
            WITH e0 AS (
              SELECT 'd' || CAST(l_orderkey % 15 AS VARCHAR) AS s,
                     'd' || CAST(l_partkey % 15 AS VARCHAR) AS t
              FROM lineitem WHERE l_orderkey < 800
              UNION ALL
              SELECT 's' || CAST(l_orderkey % 50 AS VARCHAR),
                     's' || CAST(l_orderkey % 50 + 1 AS VARCHAR)
              FROM lineitem WHERE l_orderkey < 600
            ),
            und AS MATERIALIZED (
              SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
              FROM e0 WHERE s <> t
            ),
            deg AS MATERIALIZED (
              SELECT n, count(*) AS d FROM (
                SELECT u AS n FROM und UNION ALL SELECT v FROM und
              ) GROUP BY n
            ),
            paired AS (
              SELECT CAST(da.d AS DOUBLE) AS du, CAST(db.d AS DOUBLE) AS dv
              FROM und JOIN deg da ON da.n = und.u JOIN deg db ON db.n = und.v
            ),
            sym2 AS (
              SELECT du AS x, dv AS y FROM paired
              UNION ALL SELECT dv, du FROM paired
            ),
            m AS MATERIALIZED (
              SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
                     avg(x * y) AS mxy, avg(x * x) AS mxx, avg(y * y) AS myy
              FROM sym2
            )
            SELECT CAST(n / 2 AS BIGINT) AS n_edges,
                   CASE WHEN mxx - mx * mx > 0 AND myy - my * my > 0
                        THEN round((mxy - mx * my)
                                   / sqrt((mxx - mx * mx) * (myy - my * my))
                                   + 1e-9, 6)
                   END AS assortativity
            FROM m
        """,
        "k_core": _kcore_oracle_sql(
            """
  SELECT 'd' || CAST(l_orderkey % 15 AS VARCHAR) AS s,
         'd' || CAST(l_partkey % 15 AS VARCHAR) AS t
  FROM lineitem WHERE l_orderkey < 800
  UNION ALL
  SELECT 's' || CAST(l_orderkey % 50 AS VARCHAR),
         's' || CAST(l_orderkey % 50 + 1 AS VARCHAR)
  FROM lineitem WHERE l_orderkey < 600
""",
            3,
            rounds=8,
        ),
        "degree_histogram": """
            WITH e0 AS MATERIALIZED (
              SELECT DISTINCT 'p' || CAST(l_orderkey % 40 AS VARCHAR) AS s,
                              'p' || CAST(l_partkey % 40 AS VARCHAR) AS t
              FROM lineitem WHERE l_orderkey < 1500
            ),
            und AS MATERIALIZED (
              SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
              FROM e0 WHERE s <> t
            ),
            deg AS MATERIALIZED (
              SELECT n, count(*) AS degree FROM (
                SELECT u AS n FROM und UNION ALL SELECT v FROM und
              ) GROUP BY n
            ),
            hist AS (SELECT degree, count(*) AS n FROM deg GROUP BY degree),
            grid AS (
              SELECT unnest(generate_series(1, (SELECT max(degree) FROM deg)))
                AS degree
            )
            SELECT g.degree, coalesce(h.n, 0) AS n_nodes
            FROM grid g LEFT JOIN hist h ON h.degree = g.degree
        """,
        "triangle_counts": """
            WITH e0 AS MATERIALIZED (
              SELECT DISTINCT 'p' || CAST(l_orderkey % 60 AS VARCHAR) AS s,
                              'p' || CAST(l_partkey % 60 AS VARCHAR) AS t
              FROM lineitem WHERE l_orderkey < 3000
            ),
            und AS MATERIALIZED (
              SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
              FROM e0 WHERE s <> t
            ),
            nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und),
            tri AS MATERIALIZED (
              SELECT a.u AS x, a.v AS y, b.v AS z
              FROM und a
              JOIN und b ON b.u = a.v
              JOIN und c ON c.u = a.u AND c.v = b.v
            ),
            m AS (
              SELECT x AS node FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri
            ),
            cnt AS (SELECT node, count(*) AS n_triangles FROM m GROUP BY node)
            SELECT n.node, coalesce(c.n_triangles, 0) AS n_triangles
            FROM nodes n LEFT JOIN cnt c ON c.node = n.node
        """,
        "weighted_sample": """
            WITH w AS MATERIALIZED (
              SELECT doc_id, n_chars,
                     (CAST('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT) + 0.5) / 4294967296.0 AS u
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, n_chars FROM (
              SELECT doc_id, n_chars, ln(u) / CAST(n_chars AS DOUBLE) AS k
              FROM w ORDER BY k DESC, doc_id LIMIT 25
            )
        """,
        "group_topk_sample": """
            WITH g AS (
              SELECT doc_id, doc_id % 7 AS grp,
                     md5('gk|' || CAST(doc_id AS VARCHAR)) AS h
              FROM documents
            ),
            r AS (
              SELECT doc_id, grp,
                     row_number() OVER (PARTITION BY grp ORDER BY h, doc_id) AS rn
              FROM g
            )
            SELECT doc_id, grp FROM r WHERE rn <= 3
        """,
        "crawl_diff": """
            WITH base AS MATERIALIZED (
              SELECT doc_id, text,
                     'http://crawl' || CAST(doc_id % 19 AS VARCHAR)
                       || '.site/p/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            ),
            old_side AS MATERIALIZED (
              SELECT url, max(md5(coalesce(text, ''))) AS old_hash
              FROM base GROUP BY url
            ),
            new_rows AS (
              SELECT url,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
              FROM base WHERE doc_id % 13 <> 0
              UNION ALL
              SELECT 'http://crawl' || CAST(doc_id % 19 AS VARCHAR)
                       || '.site/extra/' || CAST(doc_id AS VARCHAR) AS url,
                     text
              FROM base WHERE doc_id % 17 = 0
            ),
            new_side AS MATERIALIZED (
              SELECT url, max(md5(coalesce(text, ''))) AS new_hash
              FROM new_rows GROUP BY url
            )
            SELECT coalesce(o.url, n.url) AS url,
                   CASE WHEN o.url IS NULL THEN 'added'
                        WHEN n.url IS NULL THEN 'removed'
                        WHEN o.old_hash <> n.new_hash THEN 'changed'
                   END AS status,
                   o.old_hash, n.new_hash
            FROM old_side o FULL OUTER JOIN new_side n ON o.url = n.url
            WHERE (o.url IS NULL OR n.url IS NULL OR o.old_hash <> n.new_hash)
        """,
        "anchor_grounding": f"""
            WITH {_LINKS_CTES},
            vtoks AS MATERIALIZED (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       w -> w <> '')) AS token
              FROM documents
            ),
            idx AS MATERIALIZED (
              SELECT token AS w FROM (
                SELECT token, count(*) AS tf FROM vtoks GROUP BY token
                ORDER BY tf DESC, token ASC LIMIT 100
              )
            ),
            norm AS (
              -- the ASCII slice of norm_text_col (lower, dashes→space,
              -- whitespace collapse); the synthetic corpus has no greek
              SELECT regexp_extract(lower(regexp_extract(href, '://([^/]+)', 1)),
                                    '[^.]+\\.[^.]+$', 0) AS dst_domain,
                     trim(regexp_replace(replace(lower(anchor), '-', ' '),
                                         '\\s+', ' ', 'g')) AS na
              FROM links
            )
            SELECT n.dst_domain, 'VOC:' || i.w AS object_id, count(*) AS n_links
            FROM norm n JOIN idx i ON n.na = i.w
            GROUP BY 1, 2
        """,
        "chunk_documents": """
            WITH toks AS MATERIALIZED (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                 w -> w <> '') AS t
              FROM documents
            ),
            meta AS (
              SELECT doc_id, t, len(t) AS n,
                     CASE WHEN len(t) = 0 THEN 0
                          WHEN len(t) <= 20 THEN 1
                          ELSE 1 + CAST(floor((len(t) - 20 + 14) / 15.0) AS BIGINT)
                     END AS n_chunks
              FROM toks
            )
            SELECT doc_id, i AS chunk_id,
                   len(list_slice(t, i * 15 + 1, i * 15 + 20)) AS n_chunk_tokens,
                   array_to_string(list_slice(t, i * 15 + 1, i * 15 + 20), ' ')
                     AS chunk_text
            FROM meta, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
        """,
        "blocklist_filter": """
            SELECT doc_id,
                   'http://src' || CAST(doc_id % 23 AS VARCHAR) || '.net/p/'
                     || CAST(doc_id AS VARCHAR) AS url
            FROM documents
            WHERE (doc_id % 23) NOT IN (0, 3, 6, 9, 12, 15, 18, 21)
        """,
        "unigram_logprob": """
            WITH toks AS MATERIALIZED (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       w -> w <> '')) AS token
              FROM documents
            ),
            vocab AS MATERIALIZED (
              SELECT token, count(*) AS tf FROM toks GROUP BY token
            ),
            sc AS MATERIALIZED (
              SELECT CAST(coalesce(sum(tf), 0) AS DOUBLE) AS t,
                     CAST(count(*) AS DOUBLE) AS v
              FROM vocab
            ),
            scored AS (
              SELECT tk.doc_id,
                     ln(sc.t + 1.0 * (sc.v + 1))
                       - ln(vocab.tf + CAST(1.0 AS DOUBLE)) AS nll
              FROM toks tk JOIN vocab USING (token) CROSS JOIN sc
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_tokens,
                     round(avg(nll) + 1e-9, 6) AS mean_nll
              FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, a.mean_nll
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "session_window": """
            WITH o AS MATERIALIZED (
              SELECT user_id, ts,
                     -- strictly >: Spark merges sessions whose windows
                     -- TOUCH (an event exactly gap after the previous one
                     -- joins its session — pinned by
                     -- test_exact_gap_merges_into_session)
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               > INTERVAL 30 MINUTE
                            OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events
            ),
            s AS (
              SELECT user_id, ts,
                     sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%g') AS session_start,
                   strftime(max(ts) + INTERVAL 30 MINUTE,
                            '%Y-%m-%d %H:%M:%S.%g') AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "crawl_merge": """
            WITH pages AS MATERIALIZED (
              SELECT CASE WHEN event_id % 3 = 0 THEN 'HTTP://Site.org:80/p/'
                          ELSE 'http://site.org/p/' END
                     || CAST(event_id % 300 AS VARCHAR)
                     || CASE WHEN event_id % 4 = 0 THEN '?utm_source=crawl&v=1'
                             ELSE '?v=1' END AS url,
                     ts AS warc_ts, event_id
              FROM events
            ),
            keyed AS (
              -- the synthesized variants all collapse to this canonical
              -- form (case/default-port lowered, utm dropped); the full
              -- canonicalizer itself is replayed by the url_canonicalize
              -- oracle
              SELECT *, 'http://site.org/p/' || CAST(event_id % 300 AS VARCHAR)
                        || '?v=1' AS curl
              FROM pages
            ),
            r AS (
              SELECT url, warc_ts, event_id,
                     row_number() OVER (
                       PARTITION BY curl
                       ORDER BY warc_ts DESC, url DESC, event_id DESC) AS rn
              FROM keyed
            )
            SELECT url, warc_ts, event_id FROM r WHERE rn = 1
        """,
        "dup_span_stats": f"""
            WITH {_SHINGLES_CTE},
            dupw AS MATERIALIZED (
              SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2
            ),
            dc AS MATERIALIZED (
              SELECT doc_id, count(*) AS n_dup
              FROM sh JOIN dupw USING (shingle) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.n, 0) AS BIGINT) AS n_windows,
                   CAST(coalesce(dc.n_dup, 0) AS BIGINT) AS n_dup,
                   round(CASE WHEN coalesce(s.n, 0) > 0
                              THEN coalesce(dc.n_dup, 0) * 1.0 / s.n
                              ELSE 0.0 END + 1e-9, 6) AS dup_frac
            FROM documents d
            LEFT JOIN sizes s USING (doc_id)
            LEFT JOIN dc USING (doc_id)
        """,
        "bpe_pairs": """
            WITH w AS MATERIALIZED (
              SELECT unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS word
              FROM documents
            ),
            wc AS MATERIALIZED (
              SELECT word, count(*) AS n FROM w
              WHERE len(word) >= 2 GROUP BY word
            ),
            p AS (
              SELECT n, unnest(list_transform(range(1, len(word)),
                       i -> {'l': substr(word, i, 1),
                             'r': substr(word, i + 1, 1)})) AS pr
              FROM wc
            )
            SELECT pr.l AS lhs, pr.r AS rhs, CAST(sum(n) AS BIGINT) AS cnt
            FROM p GROUP BY 1, 2
            ORDER BY cnt DESC, lhs ASC, rhs ASC
            LIMIT 40
        """,
        "asof_join": """
            WITH l AS (SELECT user_id, ts, event_id FROM events),
            r AS MATERIALIZED (
              -- collapse equal-(user, ts) clicks to the max value, like
              -- the operator's deterministic struct-max winner
              SELECT user_id, ts, max(value) AS click_value
              FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            )
            SELECT l.user_id, l.ts, l.event_id, r.click_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "range_join": """
            WITH p AS (
              -- floor, not cast: Spark's unix_timestamp TRUNCATES
              -- sub-second parts while a DuckDB double->BIGINT cast rounds
              SELECT event_id,
                     CAST(floor(epoch(ts))
                          - epoch(TIMESTAMP '2024-01-01 00:00:00')
                          AS BIGINT) AS t
              FROM events
            ),
            iv AS (
              SELECT 'w' || CAST(i AS VARCHAR) AS window_id,
                     CAST(i * 7200 AS BIGINT) AS w_start,
                     CAST(i * 7200 + 3600 AS BIGINT) AS w_end
              FROM range(0, 40) r(i)
            )
            SELECT p.event_id, p.t, iv.window_id, iv.w_start, iv.w_end
            FROM p JOIN iv ON p.t >= iv.w_start AND p.t < iv.w_end
        """,
        "kmins_distinct": """
            SELECT event_type, count(*) AS n_rows,
                   CAST(floor((16.0 / (
                     (('0x' || min(substr(md5('0' || '|' || CAST(user_id AS VARCHAR)), 1, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('0' || '|' || CAST(user_id AS VARCHAR)), 9, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('0' || '|' || CAST(user_id AS VARCHAR)), 17, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('0' || '|' || CAST(user_id AS VARCHAR)), 25, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('1' || '|' || CAST(user_id AS VARCHAR)), 1, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('1' || '|' || CAST(user_id AS VARCHAR)), 9, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('1' || '|' || CAST(user_id AS VARCHAR)), 17, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('1' || '|' || CAST(user_id AS VARCHAR)), 25, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('2' || '|' || CAST(user_id AS VARCHAR)), 1, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('2' || '|' || CAST(user_id AS VARCHAR)), 9, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('2' || '|' || CAST(user_id AS VARCHAR)), 17, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('2' || '|' || CAST(user_id AS VARCHAR)), 25, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('3' || '|' || CAST(user_id AS VARCHAR)), 1, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('3' || '|' || CAST(user_id AS VARCHAR)), 9, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('3' || '|' || CAST(user_id AS VARCHAR)), 17, 8)))::UBIGINT + 1) / 4294967296.0
                     + (('0x' || min(substr(md5('3' || '|' || CAST(user_id AS VARCHAR)), 25, 8)))::UBIGINT + 1) / 4294967296.0
                   ) - 1.0) * 1e6) AS BIGINT) AS distinct_est_micro
            FROM events GROUP BY event_type
        """,
        "hypertable_rollup": """
            WITH lv AS (
              SELECT 'hour' AS level, date_trunc('hour', ts) AS b, event_type AS key,
                     count(*) AS n,
                     CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
              FROM events GROUP BY 2, 3
              UNION ALL
              SELECT 'day', date_trunc('day', ts), event_type, count(*),
                     CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
              FROM events GROUP BY 2, 3
              UNION ALL
              SELECT 'week', date_trunc('week', ts), event_type, count(*),
                     CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
              FROM events GROUP BY 2, 3
            )
            SELECT level, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_s, key,
                   n, sum_micro
            FROM lv
        """,
        "tfidf_topk": """
            WITH tf AS MATERIALIZED (
              SELECT doc_id, token, count(*) AS tf FROM (
                SELECT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')) AS token
                FROM documents
              ) GROUP BY doc_id, token
            ),
            dfreq AS MATERIALIZED (
              SELECT token, count(*) AS df_docs,
                     CAST(floor(ln(((SELECT count(*) FROM documents) + 1.0)
                                   / (count(*) + 1)) * 1e6) AS BIGINT) AS idf_micro
              FROM tf GROUP BY token
            ),
            scored AS (
              SELECT tf.doc_id, tf.token, tf.tf, dfreq.df_docs,
                     tf.tf * dfreq.idf_micro AS score_micro,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * dfreq.idf_micro DESC, tf.token ASC) AS rn
              FROM tf JOIN dfreq USING (token)
            )
            SELECT doc_id, token, tf, CAST(df_docs AS BIGINT) AS df_docs,
                   score_micro
            FROM scored WHERE rn <= 3
        """,
        "bpe_encode": """
            WITH t AS MATERIALIZED (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                                       '\\s+'),
                                 x -> x <> '') AS words
              FROM documents
            ),
            e AS (
              SELECT doc_id,
                     flatten(list_transform(
                       list_transform(words, w0 -> replace(w0, chr(31), '')), w ->
                       string_split(
                         replace(replace(
                           array_to_string(list_transform(range(1, len(w) + 1),
                                                          i -> substr(w, i, 1)),
                                           chr(31)),
                           't' || chr(31) || 'h', 'th'),
                           'th' || chr(31) || 'e', 'the'),
                         chr(31)))) AS toks
              FROM t
            )
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
                   array_to_string(toks, ' ') AS tokens_s
            FROM e
        """,
        "bpe_train": """
            WITH w AS MATERIALIZED (
              SELECT word, count(*) AS n FROM (
                SELECT unnest(list_filter(
                         regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')) AS word
                FROM documents
              ) GROUP BY word
            ),
            vocab0 AS MATERIALIZED (
              SELECT array_to_string(
                       list_transform(range(1, len(cw) + 1),
                                      i -> substr(cw, i, 1)), chr(31)) AS s,
                     n
              FROM (SELECT replace(word, chr(31), '') AS cw, n FROM w)
            ),
            p0 AS (
              SELECT pr.l AS lhs, pr.r AS rhs, CAST(sum(n) AS BIGINT) AS cnt
              FROM (
                SELECT n, unnest(list_transform(range(1, len(t)),
                         i -> {'l': t[i], 'r': t[i+1]})) AS pr
                FROM (SELECT string_split(s, chr(31)) AS t, n FROM vocab0)
                WHERE len(t) >= 2
              ) GROUP BY 1, 2
            ),
            top0 AS MATERIALIZED (
              SELECT lhs, rhs, cnt FROM p0
              ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
            ),
            vocab1 AS MATERIALIZED (
              SELECT replace(s, (SELECT lhs || chr(31) || rhs FROM top0),
                                (SELECT lhs || rhs FROM top0)) AS s, n
              FROM vocab0
            ),
            p1 AS (
              SELECT pr.l AS lhs, pr.r AS rhs, CAST(sum(n) AS BIGINT) AS cnt
              FROM (
                SELECT n, unnest(list_transform(range(1, len(t)),
                         i -> {'l': t[i], 'r': t[i+1]})) AS pr
                FROM (SELECT string_split(s, chr(31)) AS t, n FROM vocab1)
                WHERE len(t) >= 2
              ) GROUP BY 1, 2
            ),
            top1 AS MATERIALIZED (
              SELECT lhs, rhs, cnt FROM p1
              ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
            )
            SELECT CAST(0 AS BIGINT) AS merge_rank, lhs, rhs, cnt FROM top0
            UNION ALL
            SELECT CAST(1 AS BIGINT) AS merge_rank, lhs, rhs, cnt FROM top1
        """,
        "first_seen_stream": """
            SELECT user_key, event_sid, first_ts FROM (
              SELECT CAST(user_id AS VARCHAR) AS user_key,
                     CAST(event_id AS VARCHAR) AS event_sid,
                     ts AS first_ts,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts, CAST(event_id AS VARCHAR)) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "dsir_weights": """
            WITH base AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                 w -> w <> '') AS words
              FROM documents
            ),
            grams AS (
              SELECT doc_id, lang,
                     substr(md5(array_to_string(words[i:i+1], ' ')), 1, 3) AS bucket
              FROM base, UNNEST(generate_series(1, len(words) - 1)) AS u(i)
              WHERE len(words) >= 2
            ),
            raw AS (SELECT bucket, count(*) AS rc FROM grams GROUP BY bucket),
            tgt AS (SELECT bucket, count(*) AS tc FROM grams WHERE lang = 'en' GROUP BY bucket),
            w AS (
              SELECT bucket,
                     CAST(round((ln((coalesce(tc, 0) + 1.0) /
                                    ((SELECT count(*) FROM grams WHERE lang = 'en') + 4096.0))
                               - ln((coalesce(rc, 0) + 1.0) /
                                    ((SELECT count(*) FROM grams) + 4096.0))) * 1e6)
                          AS BIGINT) AS wq
              FROM raw FULL JOIN tgt USING (bucket)
            ),
            scores AS (
              SELECT g.doc_id, count(*) AS n_grams, sum(wq) AS sq
              FROM grams g JOIN w USING (bucket) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   coalesce(n_grams, 0) AS n_grams,
                   CAST(coalesce(sq, 0) AS BIGINT) / 1e6 AS score
            FROM documents d LEFT JOIN scores USING (doc_id)
        """,
        "kmeans": """
            WITH seeds AS (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
                     embedding::DOUBLE[] AS cvec
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            pos AS (SELECT unnest(range(64)) AS p),
            a0 AS (
              SELECT vec_id, cluster FROM (
                SELECT e.vec_id, s.cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], s.cvec), 6) DESC,
                                  s.cluster) AS rn
                FROM embeddings e CROSS JOIN seeds s
              ) WHERE rn = 1
            ),
            cent1 AS (
              SELECT cluster, list(v ORDER BY p) AS cvec FROM (
                SELECT a.cluster, pos.p, round(avg(e.embedding[pos.p + 1]) + 1e-9, 9) AS v
                FROM a0 a JOIN embeddings e USING (vec_id) CROSS JOIN pos
                GROUP BY a.cluster, pos.p
              ) GROUP BY cluster
            ),
            a1 AS (
              SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6) DESC,
                                  c.cluster) AS rn
                FROM embeddings e CROSS JOIN cent1 c
              ) WHERE rn = 1
            ),
            cent2 AS (
              SELECT cluster, list(v ORDER BY p) AS cvec FROM (
                SELECT a.cluster, pos.p, round(avg(e.embedding[pos.p + 1]) + 1e-9, 9) AS v
                FROM a1 a JOIN embeddings e USING (vec_id) CROSS JOIN pos
                GROUP BY a.cluster, pos.p
              ) GROUP BY cluster
            )
            SELECT vec_id, cluster, round(list_cosine_similarity(emb, cvec), 4) AS score
            FROM (
              SELECT e.vec_id, c.cluster, e.embedding::DOUBLE[] AS emb, c.cvec,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6) DESC,
                                c.cluster) AS rn
              FROM embeddings e CROSS JOIN cent2 c
            ) WHERE rn = 1
        """,
        "repetition_stats": """
            WITH base AS (
              SELECT doc_id, replace(text, ' ', chr(10)) AS t FROM documents
            ),
            arr AS (
              SELECT doc_id,
                     list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS lines,
                     list_filter(string_split_regex(trim(lower(t)), '\\s+'), w -> w <> '') AS words
              FROM base
            ),
            linestats AS (
              SELECT doc_id, words,
                     len(lines) AS n_lines,
                     CASE WHEN len(lines) > 0
                          THEN round(1.0 - len(list_distinct(lines)) * 1.0 / len(lines) + 0.000000001, 6)
                          ELSE 0.0 END AS dup_line_frac,
                     CASE WHEN coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0) > 0
                          THEN round(1.0 - coalesce(list_aggregate(list_transform(list_distinct(lines), x -> length(x)), 'sum'), 0) * 1.0
                                         / list_aggregate(list_transform(lines, x -> length(x)), 'sum') + 0.000000001, 6)
                          ELSE 0.0 END AS dup_line_char_frac
              FROM arr
            ),
            grams AS (
              SELECT doc_id, words[i] || ' ' || words[i+1] AS g
              FROM linestats, UNNEST(generate_series(1, len(words) - 1)) AS u(i)
              WHERE len(words) >= 2
            ),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            ga AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM gc GROUP BY 1)
            SELECT l.doc_id, CAST(l.n_lines AS BIGINT) AS n_lines, l.dup_line_frac,
                   l.dup_line_char_frac,
                   CASE WHEN ga.tot > 0 THEN round(ga.mx * 1.0 / ga.tot + 0.000000001, 6)
                        ELSE 0.0 END AS top_2gram_frac
            FROM linestats l LEFT JOIN ga USING (doc_id)
        """,
        "decontaminate": """
            WITH base AS (
              SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS words
              FROM documents
            ),
            grams AS (
              SELECT doc_id, array_to_string(words[i:i+3], ' ') AS g
              FROM base, UNNEST(generate_series(1, len(words) - 3)) AS u(i)
              WHERE len(words) >= 4
            ),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
            cont AS (SELECT DISTINCT doc_id FROM grams JOIN bench USING (g))
            SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated
            FROM documents d LEFT JOIN cont c USING (doc_id)
        """,
        "mention_candidates": """
            WITH toks AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS t FROM documents),
            g1 AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i] AS gram
              FROM toks, UNNEST(generate_series(1, len(t))) AS u(i) WHERE len(t) >= 1
            ),
            g2 AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i] || ' ' || t[i+1] AS gram
              FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i) WHERE len(t) >= 2
            ),
            grams AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
            words AS (SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part)
            SELECT g.doc_id, CAST(g.pos AS BIGINT) AS pos, g.gram AS surface,
                   'PW:' || wd.w AS object_id
            FROM grams g JOIN words wd ON g.gram = wd.w
        """,
        "record_hash": """
            WITH pairs AS (
              SELECT DISTINCT 'P:' || CAST(l_partkey AS VARCHAR) AS subject_id,
                              'S:' || CAST(l_suppkey AS VARCHAR) AS object_id
              FROM lineitem WHERE l_orderkey < 500
            )
            SELECT subject_id, object_id,
                   sha256(subject_id || '|skos:exactMatch|' || object_id) AS record_id
            FROM pairs
        """,
        "curie_standardize": """
            WITH c AS (
              SELECT n_nationkey,
                     CASE WHEN n_nationkey % 2 = 0
                          THEN 'chebi:' || CAST(n_nationkey AS VARCHAR)
                          ELSE 'MESH:' || CAST(n_nationkey AS VARCHAR) END AS curie
              FROM nation
            )
            SELECT n_nationkey,
                   CASE split_part(curie, ':', 1)
                        WHEN 'chebi' THEN 'CHEBI' WHEN 'MESH' THEN 'mesh'
                        ELSE split_part(curie, ':', 1) END
                   || ':' || substr(curie, length(split_part(curie, ':', 1)) + 2) AS curie_std
            FROM c
        """,
        "contributor_counts": """
            SELECT author_id, count(*) AS n_contributions
            FROM (
              SELECT unnest(['orcid:' || CAST(o_custkey % 50 AS VARCHAR),
                             'web:'   || CAST(o_custkey % 7  AS VARCHAR)]) AS author_id
              FROM orders
            )
            WHERE split_part(author_id, ':', 1) = 'orcid'
            GROUP BY author_id
        """,
        "redundancy_report": """
            SELECT o_custkey % 100 AS key_bucket,
                   o_orderpriority AS key_priority,
                   count(*) AS n_rows,
                   count(DISTINCT o_orderstatus) AS n_files
            FROM orders
            GROUP BY 1, 2
            HAVING count(DISTINCT o_orderstatus) > 1
        """,
        "curie_uri_expand": """
            WITH c AS (
              SELECT CASE
                       WHEN p_partkey % 3 = 0 THEN 'CHEBI:' || CAST(p_partkey AS VARCHAR)
                       WHEN p_partkey % 3 = 1 THEN 'mesh:C' || CAST(p_partkey AS VARCHAR)
                       ELSE 'unknown:' || CAST(p_partkey AS VARCHAR)
                     END AS curie
              FROM part
            )
            SELECT curie,
                   CASE split_part(curie, ':', 1)
                     WHEN 'CHEBI' THEN 'http://purl.obolibrary.org/obo/CHEBI_'
                       || substr(curie, length(split_part(curie, ':', 1)) + 2)
                     WHEN 'mesh' THEN 'http://id.nlm.nih.gov/mesh/'
                       || substr(curie, length(split_part(curie, ':', 1)) + 2)
                     ELSE NULL
                   END AS uri
            FROM c
        """,
        "size_histogram": """
            WITH per AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
            counts AS (SELECT n::BIGINT AS size, count(*) AS count FROM per GROUP BY n),
            rng AS (SELECT min(size) AS lo, max(size) AS hi FROM counts),
            dom AS (SELECT unnest(generate_series(lo, hi)) AS size FROM rng)
            SELECT d.size, coalesce(c.count, 0)::BIGINT AS count
            FROM dom d LEFT JOIN counts c USING (size) ORDER BY d.size
        """,
        "same_text_filter": """
            SELECT a.p_partkey AS k, a.p_type AS t1, b.p_type AS t2
            FROM part a JOIN part b ON a.p_partkey = b.p_partkey - 1
            WHERE lower(a.p_type) = lower(b.p_type)
        """,
        "missing_edges": """
            WITH pairs AS (
              SELECT n1.n_regionkey AS r, n1.n_nationkey AS u, n2.n_nationkey AS v
              FROM nation n1 JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey
              WHERE n1.n_nationkey < n2.n_nationkey
            ),
            edges AS (
              SELECT n_regionkey AS r, n_nationkey AS u, n_nationkey + 5 AS v
              FROM nation
            )
            SELECT r, u, v FROM pairs
            EXCEPT
            SELECT r, u, v FROM edges
        """,
        "unstable_components": """
            WITH pairs AS (
              SELECT n1.n_regionkey AS r, n1.n_nationkey AS u, n2.n_nationkey AS v
              FROM nation n1 JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey
              WHERE n1.n_nationkey < n2.n_nationkey
            ),
            neg(u, v) AS (
              SELECT 0, 5 UNION ALL SELECT 2, 7
              UNION ALL SELECT 14, 16 UNION ALL SELECT 3, 23
            )
            SELECT pairs.r, pairs.u, pairs.v
            FROM pairs JOIN neg ON pairs.u = neg.u AND pairs.v = neg.v
        """,
        # full replay of the SimHash pipeline: identical md5-prefix token
        # hashes (first 16 hex chars as uint64), identical ±1 bit votes,
        # identical 16-bit-chunk banding and bit_count verify.
        "simhash_neardup": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_distinct(list_filter(
                       regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                       t -> t <> ''
                     ))) AS tok
              FROM documents
            ),
            hashed AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks
            ),
            votes AS (
              SELECT doc_id, g.i,
                     sum(CASE WHEN (h >> g.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM hashed, generate_series(0, 63) g(i)
              GROUP BY doc_id, g.i
            ),
            sigs0 AS (
              SELECT doc_id,
                     sum(CASE WHEN v > 0 THEN
                           CASE WHEN i = 63 THEN 9223372036854775808::HUGEINT
                                ELSE ((1::UBIGINT) << i)::HUGEINT END
                         ELSE 0::HUGEINT END)::UBIGINT AS usig
              FROM votes GROUP BY doc_id
            ),
            sigs AS (
              SELECT d.doc_id, coalesce(s.usig, 0::UBIGINT) AS usig
              FROM documents d LEFT JOIN sigs0 s ON d.doc_id = s.doc_id
            ),
            banded AS (
              SELECT s.doc_id, s.usig, c.c AS chunk, (s.usig >> (c.c * 16)) & 65535 AS key
              FROM sigs s, generate_series(0, 3) c(c)
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                              l.usig AS ua, r.usig AS ub
              FROM banded l
              JOIN banded r ON l.chunk = r.chunk AND l.key = r.key AND l.doc_id < r.doc_id
            )
            SELECT doc_a, doc_b, bit_count(xor(ua, ub))::BIGINT AS hamming
            FROM cand WHERE bit_count(xor(ua, ub)) <= 3
        """,
        # full replay of random-hyperplane LSH: md5-seeded planes
        # (component (p,d) = uint32(md5(p|d)[:8])/0x7FFFFFFF - 1), sign-bit
        # band keys, bucket candidate join, exact cosine rerank. dim=64 is
        # the embeddings-table width at every driver sf.
        "ann_lsh": """
            WITH planes AS (
              SELECT p.p, d.d,
                     (('0x' || substr(md5(p.p || '|' || d.d), 1, 8))::UBIGINT)::DOUBLE
                       / 2147483647.0 - 1.0 AS v
              FROM generate_series(0, 15) p(p), generate_series(0, 63) d(d)
            ),
            dots AS (
              SELECT e.vec_id, pl.p, sum(e.embedding[pl.d + 1]::DOUBLE * pl.v) AS dot
              FROM embeddings e, planes pl
              GROUP BY e.vec_id, pl.p
            ),
            bandkeys AS (
              SELECT vec_id, (p // 4) AS band,
                     string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS key
              FROM dots GROUP BY vec_id, (p // 4)
            ),
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM bandkeys q JOIN bandkeys c ON q.band = c.band AND q.key = c.key
              WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
            ),
            scored AS (
              SELECT cd.query_id, cd.neighbor_id,
                     round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                                  ce.embedding::DOUBLE[]), 4) AS cosine
              FROM cand cd
              JOIN embeddings qe ON qe.vec_id = cd.query_id
              JOIN embeddings ce ON ce.vec_id = cd.neighbor_id
            ),
            r AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                     ) AS BIGINT) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        """,
        # IVF ANN: full replay — centroid seed pick (smallest md5 of the
        # id string, id tiebreak), nearest-centroid assignment with scores
        # rounded to 6 (so float summation order cannot flip near-ties;
        # ties break by centroid id asc in both engines), n_probe cell
        # fan-out per query, exact round-4 rerank in the probed cells.
        "ann_ivf": """
            WITH centroids AS (
              SELECT CAST(vec_id AS VARCHAR) AS cid, embedding
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 16
            ),
            scores AS (
              SELECT e.vec_id, c.cid,
                     round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                  c.embedding::DOUBLE[]), 6) AS s
              FROM embeddings e CROSS JOIN centroids c
            ),
            assign AS (
              SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
                FROM scores
              ) WHERE rn = 1
            ),
            probes AS (
              SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
                FROM scores WHERE vec_id < 10
              ) WHERE rn <= 4
            ),
            cand AS (
              SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
              FROM probes p JOIN assign a ON a.cid = p.cid
              WHERE p.vec_id <> a.vec_id
            ),
            scored AS (
              SELECT cd.query_id, cd.neighbor_id,
                     round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                                  ce.embedding::DOUBLE[]), 4) AS cosine
              FROM cand cd
              JOIN embeddings qe ON qe.vec_id = cd.query_id
              JOIN embeddings ce ON ce.vec_id = cd.neighbor_id
            ),
            r AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                     ) AS BIGINT) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        """,
        "media_frames": """
            WITH m AS (
              SELECT 'img-' || CAST(p_partkey AS VARCHAR) AS media_id,
                     (p_partkey % 320 + 16)::INT AS width,
                     (p_partkey % 240 + 16)::INT AS height,
                     44::BIGINT AS n_bytes
              FROM part WHERE p_partkey < 200
            ),
            f AS (
              SELECT m.*, unnest(generate_series(
                       0, least(5, greatest((n_bytes // 10)::INT, 1)) - 1
                     )) AS fi
              FROM m
            )
            SELECT media_id, fi::BIGINT AS frame_index,
                   (fi * 10)::BIGINT AS frame_offset, 1::BIGINT AS version,
                   width, height, round(width * 1.0 / height, 4) AS aspect
            FROM f
        """,
        "embedding_neardup": """
            WITH planes AS (
              SELECT p.p, d.d,
                     (('0x' || substr(md5(p.p || '|' || d.d), 1, 8))::UBIGINT)::DOUBLE
                       / 2147483647.0 - 1.0 AS v
              FROM generate_series(0, 15) p(p), generate_series(0, 63) d(d)
            ),
            dots AS (
              SELECT e.vec_id, pl.p, sum(e.embedding[pl.d + 1]::DOUBLE * pl.v) AS dot
              FROM embeddings e, planes pl
              GROUP BY e.vec_id, pl.p
            ),
            bandkeys AS (
              SELECT vec_id, (p // 4) AS band,
                     string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS key
              FROM dots GROUP BY vec_id, (p // 4)
            ),
            cand AS (
              SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
              FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.key = b.key
              WHERE a.vec_id < b.vec_id
            )
            SELECT c.doc_a, c.doc_b,
                   round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                                eb.embedding::DOUBLE[]), 4) AS cosine
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.doc_a
            JOIN embeddings eb ON eb.vec_id = c.doc_b
            WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                               eb.embedding::DOUBLE[]), 4) >= 0.35
        """,
        # golden-transition replication of the five-mark curation state
        # machine (reference wsgi_cases.py:199-323): same constructed input
        # (from nation), transitions expressed as CASE.
        "curation_marks": """
            WITH base AS (
              SELECT n_nationkey AS k,
                     'CHEBI:' || CAST(n_nationkey AS VARCHAR) AS subject_id,
                     CASE WHEN n_nationkey % 6 = 5 THEN 'positive' ELSE 'predicted' END AS status0,
                     ['correct','incorrect','unsure','BROAD','NARROW','correct'][(n_nationkey % 6) + 1] AS mark
              FROM nation
            ),
            t AS (
              SELECT *,
                     (status0 = 'predicted') AS eligible,
                     (status0 = 'predicted' AND mark <> 'unsure') AS to_manual,
                     (status0 = 'predicted' AND mark = 'unsure') AS to_unsure
              FROM base
            )
            SELECT subject_id,
                   CASE WHEN to_manual AND mark = 'BROAD' THEN 'skos:broadMatch'
                        WHEN to_manual AND mark = 'NARROW' THEN 'skos:narrowMatch'
                        ELSE 'skos:exactMatch' END AS predicate_id,
                   CASE WHEN to_manual AND mark = 'incorrect' THEN 'Not' END AS predicate_modifier,
                   CASE WHEN to_manual THEN 'semapv:ManualMappingCuration'
                        ELSE 'semapv:LexicalMatching' END AS mapping_justification,
                   CASE WHEN to_manual THEN NULL ELSE 0.9::DOUBLE END AS confidence,
                   CASE WHEN to_manual THEN NULL ELSE 'test' END AS mapping_tool,
                   CASE WHEN eligible THEN
                        CASE mark WHEN 'incorrect' THEN 'negative'
                                  WHEN 'unsure' THEN 'unsure'
                                  ELSE 'positive' END
                        ELSE status0 END AS status,
                   CASE WHEN to_manual THEN 'orcid:0000-0000-0000-0000' END AS author,
                   CASE WHEN to_unsure THEN 'orcid:0000-0000-0000-0000' END AS reviewer,
                   CASE WHEN to_manual THEN '2026-08-16' END AS mapping_date_s,
                   CASE WHEN to_unsure THEN '2026-08-16' END AS review_date_s,
                   CASE WHEN to_unsure THEN 0.0::DOUBLE END AS reviewer_agreement
            FROM t
        """,
        # plain-SQL replay of the S4 insert roundtrip: existing (orders
        # < 300) union incoming (orders 200-500, prefixes standardized
        # p->P / s->S), dedup on the canonical tuple. confidence derives
        # from the key columns only, so the dedup winner carries the same
        # values on both engines.
        "insert_roundtrip": """
            WITH pairs AS (
              SELECT DISTINCT
                     'P:' || CAST(l_partkey AS VARCHAR) AS subject_id,
                     'skos:exactMatch' AS predicate_id,
                     'S:' || CAST(l_suppkey AS VARCHAR) AS object_id,
                     ((l_partkey * 31 + l_suppkey) % 1000) / 1000.0 AS confidence
              FROM lineitem WHERE l_orderkey < 500
            )
            SELECT subject_id, predicate_id, object_id, confidence FROM pairs
        """,
        # hand-derived planted-truth edge set: seed_labels contains exactly
        # four cross-namespace normalized-text collisions; the ethoxzolamide
        # pair is removed by the seed xref anti-join (J6); base lexical
        # confidence of an exact-text all-by-all pair is 1.0, and the
        # saturating evidence boost is an identity at 1.0.
        "kg_pipeline": """
            SELECT * FROM (VALUES
              ('mesh:D024502', 'skos:exactMatch', 'CHEBI:18145', 1.0::DOUBLE),
              ('mesh:C002563', 'skos:exactMatch', 'CHEBI:28499', 1.0::DOUBLE),
              ('mesh:C067604', 'skos:exactMatch', 'CHEBI:9921',  1.0::DOUBLE)
            ) AS t(subject_id, predicate_id, object_id, confidence)
        """,
        # Hand-derived expected set for the evidence-boost probe. The two
        # sub-cutoff confidences are exact: the logistic feature scores
        # (0.378, 0.393 — computable by hand from the affix/jaccard/len
        # features and the fixed SCORING_WEIGHTS) pass the 0.65 cutoff only
        # after the saturated boost conf' = round(conf + (1-conf)*0.5, 3).
        # The 0.223-scoring pair is absent (no evidence; 0.612 < 0.65 even
        # boosted), and the exact anchor stays at 1.0.
        "kg_evidence_boost": """
            SELECT * FROM (VALUES
              ('mesh:A1', 'skos:exactMatch', 'CHEBI:1',   0.689::DOUBLE),
              ('mesh:B2', 'skos:exactMatch', 'CHEBI:2',   0.697::DOUBLE),
              ('mesh:V1', 'skos:exactMatch', 'CHEBI:555', 1.0::DOUBLE)
            ) AS t(subject_id, predicate_id, object_id, confidence)
        """,
    }
    # The streaming replay is checked against the IDENTICAL batch rule:
    # stream ≡ batch is exactly the equivalence the hard signal asserts.
    sql["decontaminate_stream"] = sql["decontaminate"]
    # corpus datacard aggregates the langid+quality per-document rule
    sql["corpus_card"] = (
        "WITH lq AS MATERIALIZED ("
        + sql["langid_quality"]
        + """),
        g AS MATERIALIZED (
          SELECT lang_pred, count(*) AS n_docs, avg(quality) AS aq
          FROM lq GROUP BY lang_pred
        ),
        t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total FROM g)
        SELECT lang_pred, n_docs,
               round(n_docs / t.total + 1e-9, 6) AS share,
               round(aq + 1e-9, 6) AS avg_quality
        FROM g CROSS JOIN t"""
    )
    return sql
