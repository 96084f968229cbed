"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the root of a checkout::

    python3 perfbench/run.py --workload kg_throughput --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace 1``
runs one untraced and one traced pass plus the per-layer spans, prints the
per-layer metrics and writes every span to
``.perfbench/traces/<workload>-seed<seed>.json``.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; logs go to stderr.
"""

from __future__ import annotations

import time

_T_START = time.monotonic()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

CHECKOUT = os.getcwd()
sys.path[:0] = [CHECKOUT, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

WORKLOADS = ("kg_throughput", "corpus_ops", "mapping_export")

#: (name, unit) of every per-layer metric; a traced run prints all of them,
#: and a layer the workload does not run reads 0.
_QUERY_LAYERS = [
    (f"ops.{q}.{m}", u)
    for q in (
        "minhash_lsh", "domain_stats", "langid_quality", "simhash_neardup",
        "ngram_jaccard", "url_canonicalize", "funnel", "hypertable_rollup",
        "connected_components", "canonicalize", "pagerank", "hits",
    )
    for m, u in (("s", "s"), ("tasks", "count"), ("shuffle_bytes", "bytes"), ("cpu_s", "s"))
]
PER_LAYER: list[tuple[str, str]] = [
    ("operators.grounding.fused_scan.s", "s"),
    ("operators.grounding.fused_scan.wait_s", "s"),
    ("operators.grounding.fused_scan.task_skew", "1"),
    ("extract.s", "s"),
    ("extract.wait_s", "s"),
    ("operators.grounding.mentions.s", "s"),
    ("operators.grounding.mentions.wait_s", "s"),
    ("operators.grounding.mentions.rows_out", "count"),
    ("operators.textstats.filter.s", "s"),
    ("pipeline.aggregate_evidence.s", "s"),
    ("evidence.shuffle_bytes", "bytes"),
    ("operators.grounding.all_by_all.s", "s"),
    ("all_by_all.rows_out", "count"),
    ("operators.relational.exclusions.s", "s"),
    ("graph.components.small.s", "s"),
    ("graph.components.large.s", "s"),
    ("graph.components.large.jobs", "count"),
    ("graph.components.large.shuffle_bytes", "bytes"),
    ("ops.connected_components.jobs", "count"),
    *_QUERY_LAYERS,
    ("io.sssom_tsv.read.s", "s"),
    ("io.sssom_tsv.read.rows", "count"),
    ("export.merge.to_tsv.s", "s"),
    ("export.merge.to_tsv.driver_cpu_s", "s"),
    ("export.merge.to_tsv.bytes", "bytes"),
    ("export.summary.reports.s", "s"),
    ("export.summary.summarize.s", "s"),
    ("pass.jobs", "count"),
    ("pass.tasks", "count"),
    ("pass.cpu_s", "s"),
    ("pass.driver_gap_s", "s"),
    ("trace.overhead_s", "s"),
    ("peak_rss_mb", "MB"),
]

END_TO_END: list[tuple[str, str]] = [
    ("items_per_s", "1/s"),
    ("wall_s", "s"),
    ("setup_s", "s"),
    ("ok_ratio", "1"),
]


def workload_class(name: str):
    if name == "kg_throughput":
        from perfbench import kg_throughput as mod

        return mod.KgThroughput, mod
    if name == "corpus_ops":
        from perfbench import corpus_ops as mod

        return mod.CorpusOps, mod
    if name == "mapping_export":
        from perfbench import mapping_export as mod

        return mod.MappingExport, mod
    raise ValueError(f"unknown workload {name!r}")


class Passes:
    """Timed passes of one run: wall, items and verification of each."""

    def __init__(self):
        self.walls: list[float] = []
        self.items = 0
        self.attempted = 0
        self.verified = 0

    def run(self, workload, tracer=None) -> float | None:
        """One pass, timed; its check runs after the clock stops. Returns
        the wall time, or ``None`` when the pass raised."""
        self.attempted += 1
        try:
            t0 = time.monotonic()
            if tracer is None:
                items = workload.run_pass()
            else:
                with tracer.span("pass"):
                    items = workload.run_pass(tracer)
            wall = time.monotonic() - t0
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            return None
        self.walls.append(wall)
        self.items += items
        if items > 0 and workload.check_pass():
            self.verified += 1
        return wall


def layer_metrics(tracer, untraced_wall: float) -> dict[str, float]:
    from perfbench.common import stage_gap

    m = {name: 0.0 for name, _ in PER_LAYER}

    def put(span_name: str, **fields):
        span = tracer.find(span_name)
        if span is None:
            return
        m[f"{span_name}.s"] = span["self_s"]
        for metric, key in fields.items():
            m[f"{span_name}.{metric}"] = _field(span, key)

    put("operators.grounding.fused_scan", wait_s="wait_s", task_skew="task_skew")
    put("extract", wait_s="wait_s")
    put("operators.grounding.mentions", wait_s="wait_s", rows_out="rows_out")
    put("operators.textstats.filter")
    put("pipeline.aggregate_evidence")
    put("operators.grounding.all_by_all")
    put("operators.relational.exclusions")
    put("graph.components.small")
    put("graph.components.large", jobs="jobs", shuffle_bytes="shuffle_write_bytes")
    for name, _ in _QUERY_LAYERS:
        if name.endswith(".s"):
            put(name[:-2], tasks="tasks", shuffle_bytes="shuffle_write_bytes", cpu_s="cpu_s")
    put("io.sssom_tsv.read", rows="rows")
    put("export.merge.to_tsv", driver_cpu_s="driver_cpu_s", bytes="bytes")
    put("export.summary.reports")
    put("export.summary.summarize")
    if (span := tracer.find("pipeline.aggregate_evidence")) is not None:
        m["evidence.shuffle_bytes"] = span["total"]["shuffle_write_bytes"]
    if (span := tracer.find("operators.grounding.all_by_all")) is not None:
        m["all_by_all.rows_out"] = span["counts"]["rows_out"]
    if (span := tracer.find("ops.connected_components")) is not None:
        m["ops.connected_components.jobs"] = span["total"]["jobs"]
    whole = tracer.find("pass")
    m["pass.jobs"] = whole["total"]["jobs"]
    m["pass.tasks"] = whole["total"]["tasks"]
    m["pass.cpu_s"] = whole["total"]["cpu_s"]
    # untraced wall minus the time any stage of the traced pass was running
    m["pass.driver_gap_s"] = untraced_wall - (whole["duration_s"] - stage_gap(whole))
    m["trace.overhead_s"] = whole["duration_s"] - untraced_wall
    return m


def _field(span: dict, key: str) -> float:
    if key in span["counts"]:
        return span["counts"][key]
    if key == "driver_cpu_s":
        return span["driver_cpu_s"]
    return span["total"].get(key, 0.0)


def execute(
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    *,
    scale: str = "full",
    spark=None,
) -> dict:
    """Run one workload and return the result object. With ``spark=None``
    a session is started and stopped here; callers passing a session keep
    ownership of it (the benchmark's tests share one)."""
    from perfbench.common import TreeRssSampler, Workdir, configure_env, start_spark, stop_spark

    sampler = TreeRssSampler().start()
    workdir = Workdir(CHECKOUT)
    own_session = spark is None
    try:
        cls, mod = workload_class(name)
        workload = cls(workdir, seed, getattr(mod, scale.upper()))
        phases = _Phases(_T_START)
        workload.prepare()
        phases.mark("inputs written")
        problems = workload.oracle()
        phases.mark("oracle", excluded=True)
        if own_session:
            configure_env(CHECKOUT, workdir)
            spark = start_spark(workdir)
            phases.mark("session started")
        workload.bind(spark)
        phases.mark("inputs bound")
        problems += workload.check_inputs()
        phases.mark("input checks", excluded=True)
        if problems:
            print("input check failed: " + "; ".join(problems), file=sys.stderr)
        workload.warm_up()
        phases.mark("warm-up")
        setup_s = phases.setup_s()

        passes = Passes()
        if trace:
            metrics, units = _traced(workload, passes, spark, workdir, name, seed)
            metrics["peak_rss_mb"] = sampler.stop()
        else:
            window = 0.0
            while window < seconds:
                wall = passes.run(workload)
                if wall is None:
                    break
                window += wall
            metrics = {
                "items_per_s": passes.items / window if window else 0.0,
                "wall_s": statistics.median(passes.walls) if passes.walls else 0.0,
                "setup_s": setup_s,
                "ok_ratio": 0.0 if problems else passes.verified / passes.attempted,
            }
            units = dict(END_TO_END)
        failed = passes.attempted if problems else passes.attempted - passes.verified
        return {
            "correct": failed == 0 and passes.items > 0,
            "attempted": passes.attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        sampler.stop()
        if own_session and spark is not None:
            stop_spark(spark)
        workdir.cleanup()


class _Phases:
    """Set-up time from process start, less the oracle work; each phase is
    logged to stderr."""

    def __init__(self, t_start: float):
        self.t_start = self.last = t_start
        self.excluded = 0.0

    def mark(self, what: str, *, excluded: bool = False) -> None:
        now = time.monotonic()
        if excluded:
            self.excluded += now - self.last
        print(f"[perfbench] {what}: {now - self.last:.2f} s", file=sys.stderr)
        self.last = now

    def setup_s(self) -> float:
        return time.monotonic() - self.t_start - self.excluded


def _traced(workload, passes: Passes, spark, workdir, name: str, seed: int):
    """One untraced pass, one traced pass, then the workload's layer spans.
    Writes the spans to the trace file; returns the per-layer metrics."""
    from perfbench.common import Tracer

    untraced = passes.run(workload)
    tracer = Tracer(spark, f"{name}-seed{seed}-{os.getpid()}")
    traced = passes.run(workload, tracer)
    if untraced is None or traced is None:
        return {k: 0.0 for k, _ in PER_LAYER}, dict(PER_LAYER)
    workload.trace_layers(tracer)
    tracer.finish()
    metrics = layer_metrics(tracer, untraced)
    path = os.path.join(workdir.traces, f"{name}-seed{seed}.json")
    tracer.write(path, {"workload": name, "seed": seed, "untraced_pass_s": untraced,
                        "traced_pass_s": traced, "metrics": metrics})
    print(f"trace written to {path}", file=sys.stderr)
    return metrics, dict(PER_LAYER)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    missing = [p for p in ("sssom_curator_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(CHECKOUT, p))]
    if missing:
        print(f"not a checkout of the program: missing {', '.join(missing)}", file=sys.stderr)
        return 2
    result = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
