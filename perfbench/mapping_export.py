"""``mapping_export``: read, merge and export a four-file SSSOM repository.

Set-up writes the repository with pandas (not with the program's writer).
One pass runs ``io.sssom_tsv.read_sssom_tsv`` ×4,
``operators.relational.merge_repository``, ``export.merge.merge_to_tsv``
(a real file write, serialized on the driver),
``export.summary.make_reports`` and ``export.summary.summarize``.
"""

from __future__ import annotations

import csv
import os
from pyspark.sql import functions as F

from perfbench import datagen, oracles
from perfbench.common import maybe_span

__all__ = ["MappingExport"]

#: canonical mapping key (``schema.CANONICAL_KEY_COLUMNS``), restated here so
#: the check does not read it from the code under test
_KEY = ["subject_id", "predicate_id", "predicate_modifier", "object_id", "mapping_justification"]


FULL = datagen.RepositoryScale(positive=10_000)
TINY = datagen.RepositoryScale(positive=1_200)


class MappingExport:
    name = "mapping_export"

    def __init__(self, workdir, seed: int, scale: datagen.RepositoryScale = FULL):
        self.seed = seed
        self.scale = scale
        self.repo_dir = workdir.path("repository")
        self.out_path = workdir.path("export", "merged.sssom.tsv")
        self._last = None

    def prepare(self) -> None:
        self.paths = datagen.write_sssom_repository(self.repo_dir, self.seed, self.scale)

    def oracle(self) -> list[str]:
        """Distinct canonical keys over the input files (DuckDB), the
        component count of the positive graph (union-find), and the number
        of input rows."""
        self.expected_rows = oracles.count_distinct_keys(list(self.paths.values()), _KEY)
        edges = []
        self.input_rows = 0
        for status, path in self.paths.items():
            with open(path, encoding="utf-8") as fh:
                reader = csv.DictReader((line for line in fh if not line.startswith("#")), delimiter="\t")
                for row in reader:
                    self.input_rows += 1
                    if status == "positive" and not row["predicate_modifier"]:
                        edges.append((row["subject_id"], row["object_id"]))
        self.expected_components = oracles.count_components(edges)
        return []

    def bind(self, spark) -> None:
        self.spark = spark

    def check_inputs(self) -> list[str]:
        return []

    def warm_up(self) -> None:
        self.run_pass()

    def _frames(self):
        from sssom_curator_spark.io.sssom_tsv import read_sssom_tsv

        return {status: read_sssom_tsv(self.spark, path)[0] for status, path in self.paths.items()}

    def run_pass(self, tracer=None) -> int:
        """One pass; returns the mapping rows it exported."""
        from sssom_curator_spark.export.merge import merge_to_tsv
        from sssom_curator_spark.export.summary import make_reports, summarize
        from sssom_curator_spark.operators.relational import merge_repository

        with maybe_span(tracer, "io.sssom_tsv.read"):
            frames = self._frames()
        repository = merge_repository(frames)
        with maybe_span(tracer, "export.merge.to_tsv"):
            merge_to_tsv(frames, self.out_path, prefix_map=datagen.REPOSITORY_PREFIX_MAP)
        with maybe_span(tracer, "export.summary.reports"):
            reports = make_reports(repository)
        with maybe_span(tracer, "export.summary.summarize"):
            summary = summarize(repository)
        self._last = (reports, summary)
        return self.exported_rows()

    def exported_rows(self) -> int:
        with open(self.out_path, "rb") as fh:
            return sum(1 for line in fh if not line.startswith(b"#")) - 1  # minus the column header

    def check_pass(self) -> bool:
        """Row count equals the distinct-key count, the component count
        equals union-find's, and the summary covers every input row."""
        reports, summary = self._last
        n_components = sum(reports["chart_data"]["component_sizes"].values())
        n_summarized = sum(f["mapping_count"] for f in summary["files"].values())
        return (
            self.exported_rows() == self.expected_rows
            and n_components == self.expected_components
            and n_summarized == self.input_rows
        )

    def trace_layers(self, tracer) -> None:
        """Counts for the read and write spans, and both components paths
        over the positive graph: the small driver path the pass takes, and
        the distributed path forced with ``small_graph_threshold=0``."""
        from sssom_curator_spark.graph.components import connected_components

        frames = self._frames()
        read = tracer.find("io.sssom_tsv.read")
        read["counts"]["rows"] = sum(df.count() for df in frames.values())
        write = tracer.find("export.merge.to_tsv")
        write["counts"]["bytes"] = os.path.getsize(self.out_path)
        edges = (
            frames["positive"]
            .filter(F.col("predicate_modifier").isNull())
            .select(F.col("subject_id").alias("src"), F.col("object_id").alias("dst"))
            .persist()
        )
        edges.count()
        with tracer.span("graph.components.small"):
            connected_components(edges).count()
        with tracer.span("graph.components.large"):
            connected_components(edges, small_graph_threshold=0).count()
        edges.unpersist()
