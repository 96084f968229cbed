"""Summaries and graph analyses (SURVEY.md S8/A1–A4, G1–G4, J8/U3).

``summarize`` mirrors export/summary.py:22-61 (prefix-pair counters per
state, contributor counts, totals) — small aggregate results collected to
the driver for YAML emission. ``component_stats`` and the anomaly reports
mirror export/charts.py:32-184 but run on CC labels from the iterative-join
operator instead of networkx.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark.functions.curie_ops import curie_prefix
from sssom_curator_spark.graph.components import connected_components
from sssom_curator_spark.operators.relational import _contributor_totals

__all__ = [
    "summarize",
    "positive_components",
    "component_stats",
    "unstable_components",
    "incomplete_components",
    "zero_filled_histogram",
    "chart_data",
    "make_reports",
    "mapping_graph_edges",
]


def _nulls_first(value):
    """Sort key of an ascending Spark ``orderBy`` column: nulls first."""
    return (value is not None, value)


def _most_common(rows, key: str) -> dict:
    """``{row[key]: row["count"]}`` in ``orderBy(desc("count"), key)``
    order, sorted on the driver: the rows are a small collected aggregate,
    and a Spark sort would cost a sampling job and a second shuffle."""
    ordered = sorted(rows, key=lambda r: (-r["count"], _nulls_first(r[key])))
    return {r[key]: int(r["count"]) for r in ordered}


def summarize(repository: DataFrame) -> dict:
    """YAML-ready summary dict (S8). All aggregates are tiny; collecting
    them is the correct driver/executor split.

    Two grouped aggregations, each collected unsorted and ordered on the
    driver. One ``groupBy(status, least_prefix, greatest_prefix)`` pass
    yields the per-status pair dict, and — because every mapping
    contributes both endpoint prefixes to its pair key — the per-status
    mapping_count (sum of pair counts) and prefix_count (distinct prefixes
    across pair keys) fall out driver-side for free; the other is the
    contributor count over exploded authors.
    """
    sp, op = curie_prefix("subject_id"), curie_prefix("object_id")
    pair_rows = (
        repository.groupBy(
            F.col("status"),
            F.least(sp, op).alias("source_prefix"),
            F.greatest(sp, op).alias("target_prefix"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .collect()
    )
    pair_rows.sort(
        key=lambda r: (
            _nulls_first(r["status"]),
            -r["count"],
            _nulls_first(r["source_prefix"]),
            _nulls_first(r["target_prefix"]),
        )
    )
    out: dict = {"files": {}, "contributors": {}}
    for r in pair_rows:
        f = out["files"].setdefault(
            r["status"],
            {"mapping_count": 0, "prefix_count": set(), "prefix_pairs": {}},
        )
        f["mapping_count"] += r["count"]
        f["prefix_pairs"][f"{r['source_prefix']}-{r['target_prefix']}"] = r["count"]
        f["prefix_count"].update(
            p for p in (r["source_prefix"], r["target_prefix"]) if p is not None
        )
    for f in out["files"].values():
        f["prefix_count"] = len(f["prefix_count"])
    out["contributors"] = _most_common(_contributor_totals(repository).collect(), "author")
    return out


def _positive_edges(repository: DataFrame) -> DataFrame:
    return repository.filter(
        (F.col("status") == "positive") & F.col("predicate_modifier").isNull()
    ).select(F.col("subject_id").alias("src"), F.col("object_id").alias("dst"))


def positive_components(repository: DataFrame) -> DataFrame:
    """CC labels of the positive mapping graph — THE shared input of every
    report below. Connected components is the most expensive operator in
    the export path (iterative shuffles); compute it once per export run
    (the reference builds its networkx graph once per ``make_charts``,
    charts.py:46-66) and pass the result to each report via their
    ``components=`` parameter — :func:`make_reports` does exactly that.
    The returned frame is already materialized (``connected_components``
    returns checkpointed rows), so fan-out reads don't recompute it.
    """
    return connected_components(_positive_edges(repository))


def component_stats(
    repository: DataFrame, *, components: DataFrame | None = None
) -> DataFrame:
    """A4: per positive-component node/edge counts, density, prefix stats.

    Density = 2E / (V(V-1)) computed from counts (charts.py:92-93) —
    no per-component subgraph materialization. ``components`` accepts the
    precomputed :func:`positive_components` frame; when omitted it is
    computed here (single-report convenience).
    """
    edges = _positive_edges(repository)
    comps = components if components is not None else connected_components(edges)
    edge_comp = edges.join(
        comps.withColumnRenamed("node", "src").withColumnRenamed("component", "comp"), on="src"
    )
    edge_counts = edge_comp.groupBy("comp").agg(F.count(F.lit(1)).alias("n_edges"))
    node_stats = (
        comps.groupBy("component")
        .agg(
            F.countDistinct("node").alias("n_nodes"),
            F.countDistinct(curie_prefix("node")).alias("n_prefixes"),
            (F.countDistinct("node") - F.countDistinct(curie_prefix("node"))).alias(
                "n_duplicate_prefix_nodes"
            ),
        )
        .withColumnRenamed("component", "comp")
    )
    return (
        node_stats.join(edge_counts, on="comp", how="left")
        .select(
            F.col("comp").alias("component"),
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.round(
                F.when(
                    F.col("n_nodes") > 1,
                    2.0 * F.coalesce("n_edges", F.lit(0)) / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("density"),
            "n_prefixes",
            "n_duplicate_prefix_nodes",
        )
        .orderBy(F.desc("n_nodes"), "component")
    )


def unstable_components(
    repository: DataFrame, *, components: DataFrame | None = None
) -> DataFrame:
    """J8 (charts.py:81-87): positive components containing a negative edge
    between two of their members — contradiction report. ``components``
    takes the shared :func:`positive_components` frame."""
    comps = components if components is not None else positive_components(repository)
    neg = repository.filter(
        (F.col("status") == "negative") | (F.col("predicate_modifier") == "Not")
    ).select(F.col("subject_id").alias("src"), F.col("object_id").alias("dst"))
    labeled = (
        neg.join(comps.withColumnRenamed("node", "src").withColumnRenamed("component", "c1"), on="src")
        .join(comps.withColumnRenamed("node", "dst").withColumnRenamed("component", "c2"), on="dst")
        .filter(F.col("c1") == F.col("c2"))
        .select(F.col("c1").alias("component"), "src", "dst")
    )
    return labeled


def incomplete_components(
    repository: DataFrame, *, components: DataFrame | None = None
) -> DataFrame:
    """U3 (charts.py:92-112): missing edges within components — all member
    pairs (u < v) minus existing edges. Pair generation is a per-component
    self-join (bounded by component size), not a global cross join.
    ``components`` takes the shared :func:`positive_components` frame."""
    edges = _positive_edges(repository)
    comps = components if components is not None else connected_components(edges)
    l = comps.select(F.col("component"), F.col("node").alias("u"))
    r = comps.select(F.col("component"), F.col("node").alias("v"))
    all_pairs = l.join(r, on="component").filter(F.col("u") < F.col("v"))
    existing = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    return all_pairs.join(existing, on=["u", "v"], how="left_anti").select(
        "component", "u", "v"
    )


def zero_filled_histogram(df: DataFrame, value_col: str) -> DataFrame:
    """A7 zero-filled integer histogram (reference ``_countplot_list``,
    export/charts.py:221-229: Counter with every gap between min and max
    filled with 0 so the chart's x-axis is dense).

    One groupBy produces the sparse counts (small — one row per distinct
    size); the dense domain comes from a ``sequence`` explode over the
    1-row min/max aggregate, and the fill is a left join of two tiny
    frames. Nothing here scales with the input rows except the first
    aggregation."""
    counts = df.groupBy(F.col(value_col).cast("long").alias("size")).agg(
        F.count(F.lit(1)).alias("count")
    )
    domain = counts.agg(
        F.min("size").alias("lo"), F.max("size").alias("hi")
    ).select(F.explode(F.sequence("lo", "hi")).alias("size"))
    return (
        domain.join(counts, on="size", how="left")
        .select("size", F.coalesce("count", F.lit(0)).alias("count"))
        .orderBy("size")
    )


def chart_data(repository: DataFrame, *, components: DataFrame | None = None) -> dict:
    """S9 chart aggregates (reference export/charts.py:32-184 renders
    these three Counter series with matplotlib; the container has no
    matplotlib, so the sink is the DATA — the distributed aggregations —
    serialized YAML/JSON-ready; any plotting frontend consumes it):

    - ``component_sizes``: zero-filled histogram of positive-component
      node counts (charts.py:221-229 `_countplot_list`), from the
      per-component row counts of ``components`` (one row per node) and
      filled on the driver;
    - ``prefixes``: per-prefix mapping participation, most-common order
      (charts.py:165-171);
    - ``relations``: predicate counts, most-common order
      (charts.py:172-177).

    The prefix and relation counts come from one grouped aggregation over
    a tagged explode. Both collects are unsorted; the order is set on the
    driver.
    """
    comps = components if components is not None else positive_components(repository)
    sizes = Counter(
        r["n"] for r in comps.groupBy("component").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    size_hist = {s: sizes[s] for s in range(min(sizes), max(sizes) + 1)} if sizes else {}
    true_maps = repository.filter(
        (F.col("status") == "positive") & F.col("predicate_modifier").isNull()
    )
    tagged = true_maps.select(
        F.inline(
            F.array(
                F.struct(F.lit("prefixes").alias("kind"), curie_prefix("subject_id").alias("key")),
                F.struct(F.lit("prefixes").alias("kind"), curie_prefix("object_id").alias("key")),
                F.struct(F.lit("relations").alias("kind"), F.col("predicate_id").alias("key")),
            )
        )
    )
    rows = tagged.groupBy("kind", "key").agg(F.count(F.lit(1)).alias("count")).collect()
    return {
        "component_sizes": size_hist,
        "prefixes": _most_common([r for r in rows if r["kind"] == "prefixes"], "key"),
        "relations": _most_common([r for r in rows if r["kind"] == "relations"], "key"),
    }


def make_reports(repository: DataFrame) -> dict:
    """One-pass export orchestrator: compute the positive-graph CC labels
    ONCE and feed every graph report from them (the reference's
    ``make_charts`` builds its graph once, charts.py:46-66 — previously
    each report here re-ran the iterative CC job, up to 4× per export).

    Returns ``{"component_stats": DataFrame, "unstable_components":
    DataFrame, "incomplete_components": DataFrame, "chart_data": dict}``.
    The DataFrames stay lazy (their expensive shared input is the already-
    materialized CC frame); ``chart_data`` is collected driver-side."""
    comps = positive_components(repository)
    return {
        "component_stats": component_stats(repository, components=comps),
        "unstable_components": unstable_components(repository, components=comps),
        "incomplete_components": incomplete_components(repository, components=comps),
        "chart_data": chart_data(repository, components=comps),
    }


def mapping_graph_edges(
    repository: DataFrame,
    *,
    include_predicates: list[str] | None = None,
    exclude_predicates: list[str] | None = None,
    statuses: tuple[str, ...] = ("positive",),
) -> DataFrame:
    """F7/G2 parameterized graph construction (reference
    ``_graph_from_mappings``, export/charts.py:187-218: include/exclude
    predicate sets gate which mappings become edges; negated rows never
    do). Returns ``(src, dst, relation)`` edges."""
    out = repository.filter(
        F.col("status").isin(list(statuses)) & F.col("predicate_modifier").isNull()
    )
    if exclude_predicates:
        out = out.filter(~F.col("predicate_id").isin(exclude_predicates))
    if include_predicates:
        out = out.filter(F.col("predicate_id").isin(include_predicates))
    return out.select(
        F.col("subject_id").alias("src"),
        F.col("object_id").alias("dst"),
        F.col("predicate_id").alias("relation"),
    )
