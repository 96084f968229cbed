"""Transitive closure and PageRank vs driver-side Python oracles."""

from __future__ import annotations

import logging
import random

import pytest

from sssom_curator_spark.graph.closure import transitive_closure
from sssom_curator_spark.graph.pagerank import pagerank


def _closure_oracle(edges):
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
    out = set()
    for start in adj:
        seen, stack = set(), [start]
        while stack:
            node = stack.pop()
            for nxt in adj.get(node, ()):
                if (start, nxt) not in out:
                    out.add((start, nxt))
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
    return out


def _pagerank_oracle(edges, *, damping=0.85, iterations=5):
    e = sorted(set(edges))
    nodes = sorted({a for a, _ in e} | {b for _, b in e})
    n = len(nodes)
    outdeg = {}
    for a, _ in e:
        outdeg[a] = outdeg.get(a, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dang = sum(r for v, r in rank.items() if v not in outdeg)
        contrib = {v: 0.0 for v in nodes}
        for a, b in e:
            contrib[b] += rank[a] / outdeg[a]
        rank = {
            v: (1 - damping) / n + damping * (contrib[v] + dang / n) for v in nodes
        }
    return rank


class TestTransitiveClosure:
    def test_chain_diamond_cycle(self, spark):
        edges = [
            ("a", "b"), ("b", "c"), ("c", "d"),          # chain: 6 pairs
            ("p", "q"), ("p", "r"), ("q", "s"), ("r", "s"),  # diamond
            ("x", "y"), ("y", "x"),                      # 2-cycle: incl. (x,x)
            ("l", "l"),                                  # pure self-loop: dropped
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
        assert got == _closure_oracle(edges)
        assert ("x", "x") in got and ("l", "l") not in got

    def test_random_dag(self, spark):
        rng = random.Random(7)
        edges = [
            (f"n{rng.randrange(40)}", f"n{rng.randrange(40, 80)}") for _ in range(120)
        ] + [(f"n{rng.randrange(40, 80)}", f"n{rng.randrange(80, 120)}") for _ in range(120)]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
        assert got == _closure_oracle(edges)

    def test_max_pairs_guard(self, spark):
        edges = [(f"a{i}", f"a{(i + 1) % 30}") for i in range(30)]  # 30-cycle: 900 pairs
        df = spark.createDataFrame(edges, "src string, dst string")
        with pytest.raises(ValueError, match="max_pairs"):
            transitive_closure(df, max_pairs=100)

    def test_empty(self, spark):
        df = spark.createDataFrame([], "src string, dst string")
        assert transitive_closure(df).count() == 0


class TestPageRank:
    def test_star_and_chain(self, spark):
        edges = [
            ("hub", "s1"), ("hub", "s2"), ("hub", "s3"),
            ("s1", "hub"), ("s2", "hub"),
            ("c1", "c2"), ("c2", "c3"),                  # c3 dangles
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        want = _pagerank_oracle(edges)
        assert set(got) == set(want)
        for v, r in want.items():
            assert got[v] == pytest.approx(r, abs=2e-6)
        # mass conservation: ranks sum to 1
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)

    def test_random_graph_matches_oracle(self, spark):
        rng = random.Random(11)
        edges = list(
            {(f"v{rng.randrange(25)}", f"v{rng.randrange(25)}") for _ in range(90)}
        )
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}
        want = _pagerank_oracle(edges, iterations=4)
        for v, r in want.items():
            assert got[v] == pytest.approx(r, abs=2e-6)

    def test_empty(self, spark):
        df = spark.createDataFrame([], "src string, dst string")
        assert pagerank(df).count() == 0


class TestWeightedPageRank:
    @staticmethod
    def _oracle(wedges, *, damping=0.85, iterations=5):
        # wedges: {(a, b): w} pre-summed
        nodes = sorted({a for a, _ in wedges} | {b for _, b in wedges})
        n = len(nodes)
        wout = {}
        for (a, _), w in wedges.items():
            wout[a] = wout.get(a, 0.0) + w
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(iterations):
            dang = sum(r for v, r in rank.items() if v not in wout)
            contrib = {v: 0.0 for v in nodes}
            for (a, b), w in wedges.items():
                contrib[b] += rank[a] * w / wout[a]
            rank = {
                v: (1 - damping) / n + damping * (contrib[v] + dang / n)
                for v in nodes
            }
        return rank

    def test_weights_shift_mass(self, spark):
        from sssom_curator_spark.graph.pagerank import pagerank

        rows = [
            ("a", "heavy", 9.0),
            ("a", "light", 1.0),
            ("b", "heavy", 2.0),
            ("b", "light", 2.0),
            ("heavy", "a", 1.0),
            # parallel edge: sums with the first (a, light)
            ("a", "light", 1.0),
            # non-positive weight: dropped
            ("a", "ghost", 0.0),
        ]
        df = spark.createDataFrame(rows, "src string, dst string, w double")
        got = {r["node"]: r["rank"] for r in pagerank(df, weight="w").collect()}
        wedges = {}
        for a, b, w in rows:
            if w > 0:
                wedges[(a, b)] = wedges.get((a, b), 0.0) + w
        want = self._oracle(wedges)
        assert set(got) == set(want) and "ghost" not in got
        for v, r in want.items():
            assert got[v] == pytest.approx(r, abs=2e-6)
        assert got["heavy"] > got["light"]

    def test_uniform_weights_match_unweighted(self, spark):
        from sssom_curator_spark.graph.pagerank import pagerank

        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
        df = spark.createDataFrame(
            [(a, b, 1.0) for a, b in edges], "src string, dst string, w double"
        )
        unweighted = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        weighted = {r["node"]: r["rank"] for r in pagerank(df, weight="w").collect()}
        assert unweighted == weighted


class TestTriangleCounts:
    @staticmethod
    def _oracle(edges):
        from itertools import combinations

        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        nodes = sorted({n for e in und for n in e})
        adj = {n: set() for n in nodes}
        for a, b in und:
            adj[a].add(b)
            adj[b].add(a)
        counts = {n: 0 for n in nodes}
        for x, y, z in combinations(nodes, 3):
            if y in adj[x] and z in adj[x] and z in adj[y]:
                for n in (x, y, z):
                    counts[n] += 1
        return counts

    def test_cliques_and_chains(self, spark):
        from sssom_curator_spark.graph.triangles import triangle_counts

        edges = [
            # K4 on a..d: every node in 3 triangles
            ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
            # chain with no triangle
            ("p", "q"), ("q", "r"),
            # reverse duplicate + self loop: ignored
            ("b", "a"), ("p", "p"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
        assert got == self._oracle(edges)
        assert got["a"] == 3 and got["p"] == 0

    def test_random_graph(self, spark):
        from sssom_curator_spark.graph.triangles import triangle_counts

        rng = random.Random(23)
        edges = list({(f"v{rng.randrange(18)}", f"v{rng.randrange(18)}") for _ in range(70)})
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
        assert got == self._oracle(edges)


class TestHits:
    @staticmethod
    def _oracle(edges, *, iterations=5):
        import math

        e = sorted(set(edges))
        nodes = sorted({a for a, _ in e} | {b for _, b in e})
        hub = {v: 1.0 for v in nodes}
        auth = {v: 1.0 for v in nodes}

        def l2(d):
            nrm = math.sqrt(sum(x * x for x in d.values()))
            return {k: (x / nrm if nrm > 0 else 0.0) for k, x in d.items()}

        for _ in range(iterations):
            auth = l2({v: sum(hub[a] for a, b in e if b == v) for v in nodes})
            hub = l2({v: sum(auth[b] for a, b in e if a == v) for v in nodes})
        return hub, auth

    def test_hub_authority_split(self, spark):
        from sssom_curator_spark.graph.hits import hits

        # directory page d links to content pages c1..c3; c-pages link
        # to each other sparsely
        edges = [
            ("d", "c1"), ("d", "c2"), ("d", "c3"),
            ("c1", "c2"), ("c3", "c2"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: (r["hub"], r["authority"]) for r in hits(df).collect()}
        hub, auth = self._oracle(edges)
        for v in hub:
            assert got[v][0] == pytest.approx(hub[v], abs=2e-6)
            assert got[v][1] == pytest.approx(auth[v], abs=2e-6)
        # the directory is the best hub, c2 the best authority
        assert got["d"][0] == max(g[0] for g in got.values())
        assert got["c2"][1] == max(g[1] for g in got.values())

    def test_random_graph(self, spark):
        from sssom_curator_spark.graph.hits import hits

        rng = random.Random(5)
        edges = list({(f"v{rng.randrange(15)}", f"v{rng.randrange(15)}") for _ in range(50)})
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: (r["hub"], r["authority"]) for r in hits(df, iterations=4).collect()}
        hub, auth = self._oracle(edges, iterations=4)
        for v in hub:
            assert got[v][0] == pytest.approx(hub[v], abs=2e-6)
            assert got[v][1] == pytest.approx(auth[v], abs=2e-6)

    def test_empty(self, spark):
        from sssom_curator_spark.graph.hits import hits

        df = spark.createDataFrame([], "src string, dst string")
        assert hits(df).count() == 0


class TestNeighborJaccard:
    @staticmethod
    def _oracle(edges):
        from itertools import combinations

        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        nbrs = {}
        for a, b in und:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        out = {}
        for x, y in combinations(sorted(nbrs), 2):
            inter = len(nbrs[x] & nbrs[y])
            if inter:
                out[(x, y)] = (inter, round(inter / len(nbrs[x] | nbrs[y]), 6))
        return out

    def test_matches_python_oracle(self, spark):
        from sssom_curator_spark.graph.neighbors import neighbor_jaccard

        edges = [
            # a and b share neighbors {x, y}; a also sees z
            ("a", "x"), ("a", "y"), ("a", "z"),
            ("b", "x"), ("b", "y"),
            ("z", "x"),
            ("q", "q"),          # self loop dropped
            ("x", "a"),          # reverse duplicate
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r["node_a"], r["node_b"]): (r["common"], r["jaccard"])
            for r in neighbor_jaccard(df).collect()
        }
        want = self._oracle(edges)
        assert got == want
        assert got[("a", "b")][0] == 2

    def test_max_degree_lower_bounds(self, spark, caplog, count_jobs):
        """The hub count is observed on the degree checkpoint's job: the
        capped call starts no job beyond the uncapped one."""
        from sssom_curator_spark.graph.neighbors import neighbor_jaccard

        # hub h connects to everyone; p and q ALSO share n
        edges = [("h", w) for w in ("p", "q", "r", "s", "t")] + [
            ("p", "n"), ("q", "n")
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        full = {
            (r["node_a"], r["node_b"]): r["common"]
            for r in neighbor_jaccard(df).collect()
        }
        df = df.localCheckpoint()
        with caplog.at_level(logging.WARNING, logger="sssom_curator_spark"):
            capped_df, n_capped = count_jobs(lambda: neighbor_jaccard(df, max_degree=4))
        assert "neighbor_jaccard: dropping 1 hub neighbors" in caplog.text
        assert n_capped == count_jobs(lambda: neighbor_jaccard(df))[1]
        capped = {(r["node_a"], r["node_b"]): r["common"] for r in capped_df.collect()}
        # with the hub dropped from wedges, only the n-witnessed pair survives
        assert full[("p", "q")] == 2 and capped[("p", "q")] == 1
        assert ("r", "s") in full and ("r", "s") not in capped

    def test_random_graph(self, spark):
        from sssom_curator_spark.graph.neighbors import neighbor_jaccard

        rng = random.Random(31)
        edges = list({(f"v{rng.randrange(16)}", f"v{rng.randrange(16)}") for _ in range(60)})
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r["node_a"], r["node_b"]): (r["common"], r["jaccard"])
            for r in neighbor_jaccard(df).collect()
        }
        assert got == self._oracle(edges)


class TestLabelPropagation:
    @staticmethod
    def _oracle(edges, *, iterations=4):
        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        nbrs = {}
        for a, b in und:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        label = {v: v for v in nbrs}
        for _ in range(iterations):
            new = {}
            for v in nbrs:
                counts = {}
                for m in nbrs[v]:
                    counts[label[m]] = counts.get(label[m], 0) + 1
                best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                new[v] = best[0]
            label = new
        return label

    def test_two_cliques_one_bridge(self, spark):
        from sssom_curator_spark.graph.labelprop import label_propagation

        clique = lambda pre: [
            (f"{pre}{i}", f"{pre}{j}") for i in range(4) for j in range(i + 1, 4)
        ]
        edges = clique("a") + clique("b") + [("a0", "b0")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["label"] for r in label_propagation(df).collect()}
        want = self._oracle(edges)
        assert got == want
        # the two cliques keep distinct dominant labels
        a_labels = {got[f"a{i}"] for i in range(1, 4)}
        b_labels = {got[f"b{i}"] for i in range(1, 4)}
        assert a_labels != b_labels

    def test_random_graph(self, spark):
        from sssom_curator_spark.graph.labelprop import label_propagation

        rng = random.Random(13)
        edges = list({(f"v{rng.randrange(20)}", f"v{rng.randrange(20)}") for _ in range(55)})
        df = spark.createDataFrame(edges, "src string, dst string")
        for iters in (1, 3):
            got = {
                r["node"]: r["label"]
                for r in label_propagation(df, iterations=iters).collect()
            }
            assert got == self._oracle(edges, iterations=iters), iters


class TestPersonalizedPageRank:
    @staticmethod
    def _oracle(edges, seeds, *, damping=0.85, iterations=5):
        e = sorted(set(edges))
        nodes = sorted({a for a, _ in e} | {b for _, b in e})
        s = sorted(set(seeds) & set(nodes))
        tele = {v: (1.0 / len(s) if v in s else 0.0) for v in nodes}
        outdeg = {}
        for a, _ in e:
            outdeg[a] = outdeg.get(a, 0) + 1
        rank = dict(tele)
        for _ in range(iterations):
            dang = sum(r for v, r in rank.items() if v not in outdeg)
            contrib = {v: 0.0 for v in nodes}
            for a, b in e:
                contrib[b] += rank[a] / outdeg[a]
            rank = {
                v: (1 - damping) * tele[v] + damping * (contrib[v] + dang * tele[v])
                for v in nodes
            }
        return rank

    def test_matches_oracle_and_localizes(self, spark):
        from sssom_curator_spark.graph.pagerank import personalized_pagerank

        # the far cycle has NO inflow from the seed cluster: with seed
        # teleportation its rank must decay toward 0
        edges = [
            ("s", "a"), ("a", "b"), ("b", "s"),
            ("far1", "far2"), ("far2", "far1"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        seeds = spark.createDataFrame([("s",), ("ghost",)], "node string")
        got = {r["node"]: r["rank"] for r in personalized_pagerank(df, seeds).collect()}
        want = self._oracle(edges, ["s", "ghost"])
        for v, r in want.items():
            assert got[v] == pytest.approx(r, abs=2e-6)
        # mass concentrates near the seed; total is conserved
        assert got["s"] > got["far1"] and got["a"] > got["far2"]
        assert got["far1"] < 0.01
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)

    def test_no_matching_seed_raises(self, spark):
        from sssom_curator_spark.graph.pagerank import personalized_pagerank

        df = spark.createDataFrame([("a", "b")], "src string, dst string")
        seeds = spark.createDataFrame([("zzz",)], "node string")
        with pytest.raises(ValueError, match="no seed"):
            personalized_pagerank(df, seeds)


class TestBoundedReachability:
    @staticmethod
    def _oracle(edges, seeds, k):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
        nodes = {n for e in edges for n in e}
        dist = {s: 0 for s in seeds if s in nodes}
        frontier = set(dist)
        for d in range(1, k + 1):
            nxt = {m for n in frontier for m in adj.get(n, ()) if m not in dist}
            for m in nxt:
                dist[m] = d
            frontier = nxt
            if not frontier:
                break
        return dist

    def test_layers_and_bound(self, spark):
        from sssom_curator_spark.graph.closure import bounded_reachability

        edges = [
            ("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"),
            ("s", "b"),                      # shortcut: b is dist 1, not 2
            ("x", "s"),                      # upstream node: not reachable
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        seeds = spark.createDataFrame([("s",), ("missing",)], "node string")
        got = {
            r["node"]: r["dist"]
            for r in bounded_reachability(df, seeds, max_depth=2).collect()
        }
        assert got == self._oracle(edges, ["s", "missing"], 2)
        assert got == {"s": 0, "a": 1, "b": 1, "c": 2}

    def test_random_graph(self, spark):
        from sssom_curator_spark.graph.closure import bounded_reachability

        rng = random.Random(17)
        edges = list({(f"v{rng.randrange(30)}", f"v{rng.randrange(30)}") for _ in range(70)})
        df = spark.createDataFrame(edges, "src string, dst string")
        seeds = spark.createDataFrame([("v0",), ("v1",)], "node string")
        for k in (0, 1, 4):
            got = {
                r["node"]: r["dist"]
                for r in bounded_reachability(df, seeds, max_depth=k).collect()
            }
            assert got == self._oracle(edges, ["v0", "v1"], k), k


class TestDegreeHistogram:
    def test_zero_filled(self, spark):
        from sssom_curator_spark.graph.stats import degree_histogram

        # star: hub degree 4, spokes degree 1; no node of degree 2 or 3
        edges = [("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"), ("a", "h")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["degree"]: r["n_nodes"] for r in degree_histogram(df).collect()}
        assert got == {1: 4, 2: 0, 3: 0, 4: 1}

    def test_empty(self, spark):
        from sssom_curator_spark.graph.stats import degree_histogram

        df = spark.createDataFrame([], "src string, dst string")
        assert degree_histogram(df).count() == 0


class TestKCore:
    @staticmethod
    def _oracle(edges, k):
        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        while True:
            deg = {}
            for a, b in und:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            drop = {n for n, d in deg.items() if d < k}
            if not drop:
                return deg
            nxt = {e for e in und if e[0] not in drop and e[1] not in drop}
            if nxt == und:
                return deg
            und = nxt
        
    def test_clique_with_tail(self, spark):
        from sssom_curator_spark.graph.stats import k_core

        clique = [(f"c{i}", f"c{j}") for i in range(4) for j in range(i + 1, 4)]
        tail = [("c0", "t1"), ("t1", "t2"), ("t2", "t3")]
        df = spark.createDataFrame(clique + tail, "src string, dst string")
        got = {r["node"]: r["core_degree"] for r in k_core(df, 2).collect()}
        # the chain peels away entirely; the K4 survives with degree 3
        assert got == {f"c{i}": 3 for i in range(4)}

    def test_random_graph(self, spark):
        from sssom_curator_spark.graph.stats import k_core

        rng = random.Random(41)
        edges = list({(f"v{rng.randrange(22)}", f"v{rng.randrange(22)}") for _ in range(55)})
        df = spark.createDataFrame(edges, "src string, dst string")
        for k in (2, 3):
            got = {r["node"]: r["core_degree"] for r in k_core(df, k).collect()}
            assert got == self._oracle(edges, k), k

    def test_fixpoint_input_converges_in_one_round(self, spark, caplog):
        from sssom_curator_spark.graph.stats import k_core

        df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
        with caplog.at_level(logging.INFO, logger="sssom_curator_spark"):
            got = {r["node"]: r["core_degree"] for r in k_core(df, 1, max_iterations=1).collect()}
        assert got == {"a": 1, "b": 2, "c": 1}
        assert "k_core: 1 steps, 1 checkpoints, converged" in caplog.text
        assert "did not converge" not in caplog.text


class TestDegreeAssortativity:
    @staticmethod
    def _oracle(edges):
        import math

        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        xs, ys = [], []
        for a, b in und:
            xs += [deg[a], deg[b]]
            ys += [deg[b], deg[a]]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        cov = sum(x * y for x, y in zip(xs, ys)) / n - mx * my
        vx = sum(x * x for x in xs) / n - mx * mx
        vy = sum(y * y for y in ys) / n - my * my
        if vx <= 0 or vy <= 0:
            return None
        return cov / math.sqrt(vx * vy)

    def test_star_is_disassortative(self, spark):
        from sssom_curator_spark.graph.stats import degree_assortativity

        edges = [("h", f"s{i}") for i in range(5)] + [("s0", "s1")]
        df = spark.createDataFrame(edges, "src string, dst string")
        row = degree_assortativity(df).collect()[0]
        want = self._oracle(edges)
        assert row["n_edges"] == 6
        assert row["assortativity"] == pytest.approx(want, abs=2e-6)
        assert row["assortativity"] < 0  # hubs link to leaves

    def test_regular_graph_is_degenerate(self, spark):
        from sssom_curator_spark.graph.stats import degree_assortativity

        # a cycle: every degree equals 2 -> zero variance -> NULL
        edges = [(f"c{i}", f"c{(i + 1) % 6}") for i in range(6)]
        df = spark.createDataFrame(edges, "src string, dst string")
        row = degree_assortativity(df).collect()[0]
        assert row["assortativity"] is None

    def test_random_graph(self, spark):
        from sssom_curator_spark.graph.stats import degree_assortativity

        rng = random.Random(53)
        edges = list({(f"v{rng.randrange(20)}", f"v{rng.randrange(20)}") for _ in range(50)})
        df = spark.createDataFrame(edges, "src string, dst string")
        row = degree_assortativity(df).collect()[0]
        assert row["assortativity"] == pytest.approx(self._oracle(edges), abs=2e-6)
