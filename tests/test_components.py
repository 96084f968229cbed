"""Connected components vs a driver-side union-find oracle."""

from __future__ import annotations

import logging
import os
import random
import re
from collections import defaultdict

import pandas as pd

from sssom_curator_spark.graph.components import canonicalize_mappings, connected_components
from sssom_curator_spark.sources.fixtures import seed_repository

SF001 = os.path.join(os.path.dirname(__file__), "..", "perfbench", "data", "sf0.01")


def _union_find_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp = defaultdict(set)
    for a, b in edges:
        for n in (a, b):
            comp[find(n)].add(n)
    out = {}
    for members in comp.values():
        rep = min(members)
        for n in members:
            out[n] = rep
    return out


class TestConnectedComponents:
    def test_mixed_topologies(self, spark):
        edges = [
            ("a", "b"), ("b", "c"), ("c", "d"),       # chain
            ("x", "y"),                                  # pair
            ("h", "s1"), ("h", "s2"), ("h", "s3"),    # star
            ("p", "q"), ("q", "r"), ("r", "p"),       # cycle
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == _union_find_oracle(edges)

    def test_random_graph_matches_union_find(self, spark):
        rng = random.Random(11)
        edges = [(f"n{rng.randrange(250)}", f"n{rng.randrange(250)}") for _ in range(300)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src string, dst string")
        # force the distributed large-star/small-star path
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, small_graph_threshold=0).collect()
        }
        assert got == _union_find_oracle(edges)
        # fast path must agree exactly
        fast = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert fast == got

    def test_partition_invariance(self, spark):
        rng = random.Random(5)
        edges = [(f"n{rng.randrange(100)}", f"n{rng.randrange(100)}") for _ in range(150)]
        edges = [(a, b) for a, b in edges if a != b]
        one = spark.createDataFrame(edges, "src string, dst string").coalesce(1)
        many = spark.createDataFrame(edges, "src string, dst string").repartition(16)
        a = sorted(map(tuple, connected_components(one).collect()))
        b = sorted(map(tuple, connected_components(many).collect()))
        assert a == b

    def test_long_chain_converges(self, spark):
        # O(log n) rounds must close a 200-node path within max_iterations
        edges = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(200)]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r["component"]
            for r in connected_components(df, small_graph_threshold=0).collect()
        }
        assert got == {"c000"}


class TestDistributedRounds:
    """With partition coalescing off, the contraction sees the edges in
    several partitions, so the star rounds have real merging to do."""

    @staticmethod
    def _uncoalesced(spark, fn):
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            return fn()
        finally:
            spark.conf.set(key, old)

    def test_random_graph_and_chain_match_union_find(self, spark, caplog):
        rng = random.Random(3)
        edges = [(f"n{rng.randrange(300)}", f"n{rng.randrange(300)}") for _ in range(260)]
        edges += [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(120)]
        df = spark.createDataFrame(edges, "src string, dst string")
        with caplog.at_level(logging.INFO, logger="sssom_curator_spark"):
            got = self._uncoalesced(
                spark, lambda: connected_components(df, small_graph_threshold=0).collect()
            )
        assert len(got) == len({r["node"] for r in got})
        assert {r["node"]: r["component"] for r in got} == _union_find_oracle(edges)
        rounds = [
            r.args[1] for r in caplog.records if r.args and r.args[0] == "connected_components"
        ]
        assert rounds and rounds[0] >= 2

    def test_unconverged_still_one_row_per_node(self, spark, caplog):
        edges = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(120)]
        df = spark.createDataFrame(edges, "src string, dst string")
        with caplog.at_level(logging.WARNING, logger="sssom_curator_spark"):
            got = self._uncoalesced(
                spark,
                lambda: connected_components(
                    df, small_graph_threshold=0, max_iterations=1
                ).collect(),
            )
        assert "did not converge" in caplog.text
        assert sorted(r["node"] for r in got) == sorted({n for e in edges for n in e})


class TestLoggedPath:
    def test_small_path_logged(self, spark, caplog):
        df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
        with caplog.at_level(logging.INFO, logger="sssom_curator_spark"):
            connected_components(df).collect()
        assert "connected_components: small path, 2 edges on the driver" in caplog.text
        assert "distributed path" not in caplog.text

    def test_distributed_path_logged(self, spark, caplog):
        df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
        with caplog.at_level(logging.INFO, logger="sssom_curator_spark"):
            got = connected_components(df, small_graph_threshold=0).collect()
        assert {r["component"] for r in got} == {"a"}
        assert "connected_components: distributed path" in caplog.text
        assert re.search(r"connected_components: \d+ steps, \d+ checkpoints, converged", caplog.text)
        assert "did not converge" not in caplog.text


class TestSessionHistory:
    """CC and canonicalize give the same rows, equal to union-find, before
    and after other queries ran in the same session, in either order."""

    @staticmethod
    def _oracle():
        li = pd.read_parquet(
            os.path.join(SF001, "lineitem.parquet"), columns=["l_orderkey", "l_partkey"]
        )
        li = li[li["l_orderkey"] < 400]
        edges = sorted(
            {(f"a{o % 97}", f"b{p % 101}") for o, p in zip(li["l_orderkey"], li["l_partkey"])}
        )
        rep = _union_find_oracle(edges)
        return (
            sorted(rep.items()),
            sorted((a, b, rep[a], rep[b]) for a, b in edges),
        )

    def test_cc_and_canonicalize_independent_of_history(self, spark):
        import __spark_entry__ as entry

        q = entry.queries()

        def run(name):
            return sorted(tuple(r) for r in q[name](spark, SF001).collect())

        first = {name: run(name) for name in ("connected_components", "canonicalize")}
        for other in ("pagerank", "funnel"):
            q[other](spark, SF001).collect()
        second = {name: run(name) for name in ("canonicalize", "connected_components")}
        components, canonical = self._oracle()
        assert first == second
        assert first["connected_components"] == components
        assert first["canonicalize"] == canonical


class TestCanonicalization:
    def test_mappings_rewrite_to_representative(self, spark):
        repo = seed_repository(spark)
        comps = spark.createDataFrame(
            [("CHEBI:11986", "CHEBI:11986"), ("mesh:C048271", "CHEBI:11986")],
            "node string, component string",
        )
        out = canonicalize_mappings(repo, comps)
        row = out.filter(out["subject_id"] == "CHEBI:11986").first()
        assert row["subject_canonical"] == "CHEBI:11986"
        assert row["object_canonical"] == "CHEBI:11986"
        # unmapped CURIEs pass through
        other = out.filter(out["subject_id"] == "CHEBI:10057").first()
        assert other["subject_canonical"] == "CHEBI:10057"


class TestCanonicalizeScaleSafety:
    def test_canonicalize_no_forced_broadcast(self, spark):
        """At the 10^12-node design point the components frame is corpus-
        derived and cannot broadcast; with the broadcast threshold ruling
        it out, the rewrite must plan as a shuffled equi-join — no
        BroadcastHashJoin / BroadcastNestedLoopJoin anywhere."""
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            comps = spark.range(1000).select(
                F.concat(F.lit("N:"), F.col("id")).alias("node"),
                F.concat(F.lit("N:"), (F.col("id") / 10).cast("long")).alias("component"),
            )
            maps = spark.range(1000).select(
                F.concat(F.lit("N:"), F.col("id")).alias("subject_id"),
                F.lit("skos:exactMatch").alias("predicate_id"),
                F.concat(F.lit("N:"), (F.col("id") + 1)).alias("object_id"),
            )
            plan = canonicalize_mappings(maps, comps)._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
            assert "Join" in plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_forced_modes_agree(self, spark):
        """broadcast_components True/False/None all produce identical rows."""
        from pyspark.sql import functions as F

        comps = spark.createDataFrame(
            [("a:1", "a:1"), ("b:1", "a:1")], "node string, component string"
        )
        maps = spark.createDataFrame(
            [("b:1", "skos:exactMatch", "c:9")],
            "subject_id string, predicate_id string, object_id string",
        )
        outs = [
            sorted(
                canonicalize_mappings(maps, comps, broadcast_components=mode)
                .select("subject_canonical", "object_canonical")
                .collect()
            )
            for mode in (None, True, False)
        ]
        assert outs[0] == outs[1] == outs[2]
        assert outs[0][0]["subject_canonical"] == "a:1"
        assert outs[0][0]["object_canonical"] == "c:9"
