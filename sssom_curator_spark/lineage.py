"""Per-partition lineage & metrics (north rule: "every stage writes
per-partition lineage and metrics rows") — at zero hot-path cost, kept
entirely JVM-side:

- the pipeline's eager and snapshot modes *materialize* each stage
  anyway (persist + count, or a snapshot write); the driver measures
  wall-clock around that and registers the persisted frame here. The
  lazy throughput mode registers nothing;
- per-partition lineage rows come from a
  ``groupBy(spark_partition_id())`` aggregation over the persisted
  output — one cheap cached pass, evaluated only when the metrics table
  is actually requested/written (Iceberg metrics table in production).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sssom_curator_spark.schema import METRICS_SCHEMA

__all__ = ["MetricsRegistry"]


class MetricsRegistry:
    """Per-stage wall clocks + lazy per-partition lineage rows."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._partition_sources: dict[str, DataFrame] = {}
        self._walls: dict[str, float] = {}
        self._rows: dict[str, int] = {}

    def register_stage(
        self,
        stage: str,
        df: DataFrame,
        *,
        wall_sec: float | None = None,
        rows: int | None = None,
    ) -> None:
        """Record a materialized stage's output frame (+ wall time and row
        count). Only materialized boundaries (snapshot writes, persisted
        frames) are registered: enumerating a lazy stage from ``frame()``
        would re-execute its whole upstream DAG."""
        self._partition_sources[stage] = df
        if wall_sec is not None:
            self._walls[stage] = wall_sec * 1000.0
        if rows is not None:
            self._rows[stage] = rows

    @property
    def stage_rows(self) -> dict[str, int]:
        return dict(self._rows)

    def frame(self) -> DataFrame:
        """Per-partition lineage rows: (stage, partition_id, rows_in,
        rows_out, wall_ms). One cached pass per registered stage; wall_ms
        is the stage's driver-measured wall clock (replicated per
        partition row), -1.0 when the stage was resumed from snapshot."""
        parts = []
        for stage, df in self._partition_sources.items():
            wall = self._walls.get(stage, -1.0)
            parts.append(
                df.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count(F.lit(1)).alias("rows_out"))
                .select(
                    F.lit(stage).alias("stage"),
                    F.col("partition_id"),
                    F.col("rows_out").alias("rows_in"),
                    "rows_out",
                    F.lit(wall).alias("wall_ms"),
                )
            )
        if not parts:
            return self._spark.createDataFrame([], METRICS_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def write(self, path: str) -> None:
        self.frame().write.mode("append").parquet(path)
