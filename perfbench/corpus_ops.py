"""``corpus_ops``: twelve ``__spark_entry__`` queries over the sf0.01 tables.

Six map-heavy queries (``minhash_lsh``, ``domain_stats``,
``langid_quality``, ``simhash_neardup``, ``ngram_jaccard``,
``url_canonicalize``) and six shuffle-first or iterative ones (``funnel``,
``hypertable_rollup``, ``connected_components``, ``canonicalize``,
``pagerank``, ``hits``). One pass runs all of them, in an order fixed by
the seed, and collects each result (at most a few thousand rows) so the
check can compare what the pass produced. The page scan does no work here;
the ``_t`` scan fan-out and the operator modules do all of it.

The tables under ``data/sf0.01`` are the project's sf0.01 testdata
(``documents``, ``orders``, ``lineitem``, ``events``), kept here so the
benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import os
import random
import sys
import time

from perfbench import oracles
from perfbench.common import maybe_span

__all__ = ["CorpusOps", "QUERIES", "TABLES_DIR"]

QUERIES = (
    "minhash_lsh",
    "domain_stats",
    "langid_quality",
    "simhash_neardup",
    "ngram_jaccard",
    "url_canonicalize",
    "funnel",
    "hypertable_rollup",
    "connected_components",
    "canonicalize",
    "pagerank",
    "hits",
)
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
_TABLES = ["documents", "orders", "lineitem", "events"]

FULL = QUERIES
TINY = ("langid_quality", "funnel", "connected_components")


class CorpusOps:
    name = "corpus_ops"

    def __init__(self, workdir, seed: int, scale: tuple[str, ...] = FULL):
        import __spark_entry__ as entry

        del workdir  # the tables are read in place
        self.order = list(scale)
        random.Random(seed).shuffle(self.order)
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self._results: dict[str, tuple[list[str], list[tuple]]] = {}

    def prepare(self) -> None:
        """The tables ship with the benchmark."""

    def oracle(self) -> list[str]:
        """Expected result of every query, computed in DuckDB."""
        self._oracle = oracles.QueryOracle(TABLES_DIR, _TABLES)
        for q in self.order:
            self._oracle.load(q, self.oracle_sql[q])
        self._oracle.close()
        return []

    def bind(self, spark) -> None:
        self.spark = spark

    def check_inputs(self) -> list[str]:
        return []

    def warm_up(self) -> None:
        self.run_pass()

    def run_pass(self, tracer=None) -> int:
        """One pass over the queries in seed order, each result collected;
        returns the number run."""
        self._results = {}
        walls = []
        for q in self.order:
            t0 = time.monotonic()
            with maybe_span(tracer, f"ops.{q}"):
                df = self.queries[q](self.spark, TABLES_DIR)
                self._results[q] = (df.columns, [tuple(r) for r in df.collect()])
            walls.append(f"{q} {time.monotonic() - t0:.2f}")
        print("[perfbench] query walls: " + ", ".join(walls), file=sys.stderr)
        return len(self.order)

    def check_pass(self) -> bool:
        """Every query of the last pass returned the DuckDB oracle's rows."""
        ok = len(self._results) == len(self.order)
        for q, (cols, rows) in self._results.items():
            if not self._oracle.matches(q, cols, rows):
                print(f"[perfbench] {q}: result differs from the DuckDB oracle", file=sys.stderr)
                ok = False
        return ok

    def trace_layers(self, tracer) -> None:
        """Queries are already spans of the traced pass."""
