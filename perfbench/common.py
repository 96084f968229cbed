"""Process plumbing shared by the workloads: the work directory, the Spark
session and its shutdown, peak memory of the process tree, and the tracer
that reads Spark's status store around each traced call."""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import subprocess
import threading
import time

from py4j.protocol import Py4JJavaError

__all__ = [
    "Workdir",
    "start_spark",
    "stop_spark",
    "TreeRssSampler",
    "Tracer",
    "maybe_span",
]


class Workdir:
    """``.perfbench/`` under the checkout: ``work/<tag>`` holds generated
    inputs, Spark scratch and temp files and is removed at exit;
    ``traces/`` keeps the traced runs' JSON files."""

    def __init__(self, checkout: str, tag: str | None = None):
        self.root = os.path.join(checkout, ".perfbench")
        self.work = os.path.join(self.root, "work", tag or str(os.getpid()))
        self.tmp = os.path.join(self.work, "tmp")
        self.traces = os.path.join(self.root, "traces")
        for d in (self.tmp, self.traces):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def configure_env(checkout: str, workdir: Workdir) -> None:
    """Environment for the JVM and the Python workers it forks: the program
    is imported from the checkout, and every scratch file stays inside it."""
    paths = [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = workdir.tmp
    os.environ["SPARK_LOCAL_DIRS"] = workdir.path("spark-local")
    # the JVM's own temp files, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={workdir.tmp} -XX:-UsePerfData"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(workdir: Workdir):
    """``local[cpus]`` session with the engine defaults (its driver heap
    included) and shuffle width ``max(16, 2·cpus)``, as ``bench.py``
    configures it."""
    from sssom_curator_spark.session import get_spark

    cpus = cpu_count()
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra={
            "spark.sql.shuffle.partitions": str(max(16, 2 * cpus)),
            "spark.local.dir": workdir.path("spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class TreeRssSampler:
    """Peak summed resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled every quarter second."""

    INTERVAL = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self._sample()

    def start(self) -> "TreeRssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak / 2**20


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait for every process this
    process started (the JVM and the Python worker daemon) to end."""
    from pyspark import SparkContext

    me = os.getpid()
    started = descendants(me)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    alive = [p for p in started if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _is_running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while _is_running(p) and time.monotonic() < deadline + 10:
            time.sleep(0.05)


def _is_running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie; reaps our own zombies."""
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 : stat.rindex(b")") + 3] != b"Z"


# ------------------------------------------------------------------ tracing


def _epoch_s(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Spans around calls into the program, with Spark's status-store
    counters for the jobs each span ran.

    Each span labels its jobs with ``setJobGroup``; when the span ends the
    listener bus is drained and the stages of the group's jobs are read
    from the status store. Spans nest: a child's jobs carry the child's
    group, and the parent's counters are the sum over itself and its
    children. Everything stays in memory until :meth:`write`.
    """

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    def _stages(self, group: str, skew: bool) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = sorted({s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds})
        agg = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "intervals": [],
        }
        heaviest = None
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            agg["stages"] += 1
            agg["tasks"] += st.numTasks()
            run = st.executorRunTime() / 1000.0
            agg["run_s"] += run
            agg["cpu_s"] += st.executorCpuTime() / 1e9
            agg["gc_s"] += st.jvmGcTime() / 1000.0
            agg["shuffle_read_bytes"] += st.shuffleReadBytes()
            agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
            sub, done = _epoch_s(st.submissionTime()), _epoch_s(st.completionTime())
            if sub is not None and done is not None:
                agg["intervals"].append((sub, done))
            if heaviest is None or run > heaviest[0]:
                heaviest = (run, sid, st.attemptId())
        agg["wait_s"] = agg["run_s"] - agg["cpu_s"] - agg["gc_s"]
        if skew and heaviest is not None:
            tasks = store.taskList(heaviest[1], heaviest[2], 100_000)
            durations = sorted(
                tasks.apply(i).duration().get()
                for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()
            )
            median = durations[len(durations) // 2] if durations else 0
            agg["task_skew"] = durations[-1] / median if median else 1.0
        return agg

    @contextlib.contextmanager
    def span(self, name: str, *, skew: bool = False):
        """Time the body as span ``name``; yields the span record, whose
        ``counts`` the caller may extend (rows, bytes)."""
        self._seq += 1
        group = f"{name}#{self._seq}"
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": self._seq,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": group,
            "counts": {},
        }
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        cpu0 = time.process_time()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["driver_cpu_s"] = time.process_time() - cpu0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent and parent["group"])
            self.sc.setLocalProperty("spark.job.description", parent and parent["name"])
            rec["spark"] = self._stages(group, skew)
            self.spans.append(rec)

    def finish(self) -> None:
        """Roll children's counters into their parents and compute self
        times (duration minus the part covered by child spans)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in sorted(self.spans, key=lambda s: s["id"], reverse=True):
            kids = children.get(s["id"], [])
            total = dict(s["spark"])
            for k in kids:
                for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "wait_s",
                            "shuffle_read_bytes", "shuffle_write_bytes"):
                    total[key] += k["total"][key]
                total["intervals"] = total["intervals"] + k["total"]["intervals"]
            s["total"] = total
            s["duration_s"] = s["end"] - s["start"]
            s["self_s"] = s["duration_s"] - _covered([(k["start"], k["end"]) for k in kids], s["start"], s["end"])

    def find(self, name: str) -> dict | None:
        hits = [s for s in self.spans if s["name"] == name]
        return hits[-1] if hits else None

    def write(self, path: str, extra: dict) -> None:
        import json

        out = {"run_id": self.run_id, **extra, "spans": [
            {k: v for k, v in s.items() if k != "group"} for s in self.spans
        ]}
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(out, fh, indent=1, default=str)


def maybe_span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or nothing when the pass is untraced."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def stage_gap(span: dict) -> float:
    """Span wall time during which none of its Spark stages ran."""
    return span["duration_s"] - _covered(span["total"]["intervals"], span["start"], span["end"])
