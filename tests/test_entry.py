"""Driver-contract smoke: entry() + queries() run at sf0.001 and every
oracle key has a callable (full value comparison lives in
tools/check_oracle.py and the driver's own verify)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

FAST_QUERIES = [
    "prefix_pair_counts",
    "state_pagination",
    "grounding_join",
    "all_by_all_pairs",
    "anti_join",
    "dedup_exact",
    "token_counts",
    "record_hash",
    "curie_standardize",
    "exact_dedup_docs",
    "langid_quality",
    "token_count_bpe",
    "ann_ivf",
    "contributor_counts",
    "redundancy_report",
    "curie_uri_expand",
    "same_text_filter",
    "missing_edges",
    "unstable_components",
]


class TestContract:
    def test_entry_returns_rows(self, spark):
        df = entrymod.entry(spark)
        rows = df.collect()
        assert len(rows) > 0
        assert set(df.columns) == {"surface", "object_id", "n_docs", "n_mentions"}

    def test_oracle_keys_subset_of_queries(self):
        qs = entrymod.queries()
        missing = set(entrymod.oracle_sql()) - set(qs)
        assert not missing

    def test_fast_queries_run_at_sf0001(self, spark):
        qs = entrymod.queries()
        for name in FAST_QUERIES:
            df = qs[name](spark, SF)
            assert df.columns, name
            df.limit(5).collect()

    def test_queries_leave_session_conf_unchanged(self, spark):
        """Queries that narrow the shuffle width restore the session's."""
        qs = entrymod.queries()
        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        for name in ("kg_pipeline", "kg_evidence_boost"):
            assert qs[name](spark, SF).count() > 0, name
            assert spark.conf.get(key) == before, name
        with pytest.raises(RuntimeError):
            with entrymod._shuffle_partitions(spark, 3):
                raise RuntimeError("query failed")
        assert spark.conf.get(key) == before

    def test_repeat_table_read_runs_no_job(self, spark, count_jobs):
        """``_t`` infers a table's schema once per session; a plain parquet
        read runs that one-task inference job every time."""
        path = f"{SF}/orders.parquet"
        _, plain = count_jobs(lambda: spark.read.parquet(path))
        assert plain >= 1  # the counter sees the inference job
        entrymod._t(spark, SF, "orders")
        tz = "spark.sql.session.timeZone"
        spark.conf.set(tz, "America/New_York")  # as a session built elsewhere
        try:
            df, jobs = count_jobs(lambda: entrymod._t(spark, SF, "orders"))
            assert spark.conf.get(tz) == "UTC"
        finally:
            spark.conf.set(tz, "UTC")
        assert jobs == 0
        assert df.schema == spark.read.parquet(path).schema
