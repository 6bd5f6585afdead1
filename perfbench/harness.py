"""Shared machinery of the benchmark: the Spark session, the measured loop,
statistics, process-tree CPU and memory from /proc, spans and the reader
of Spark's status stores (stage metrics and executed-plan node metrics).

Nothing here traces inside the package: a traced call is a span recorded
in the benchmark around one call into a layer, with a Spark job group set
on the calling thread so the layer's jobs can be found afterwards.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# Two cores at most: the inputs are small, so more tasks per stage only add
# scheduling overhead, and the host's other cores stay free for the JVM's
# compiler and GC threads, the Python workers and the client.
CORES = max(1, min(os.cpu_count() or 1, 2))


# ---------------------------------------------------------------- statistics


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def describe(values: list[float]) -> str:
    """'p50=… p90=… (n=…)' with the highest percentile the sample supports."""
    if not values:
        return "n=0"
    out = f"p50={statistics.median(values):.4g}"
    p = tail_percentile(len(values))
    if p is not None and p != 50:
        out += f" p{p}={quantile(values, p / 100.0):.4g}"
    return out + f" (n={len(values)})"


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ---------------------------------------------------------- /proc accounting


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime+stime (+ reaped children) of the given processes, seconds."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _proc_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_mb(jvm: int, children: list[int]) -> tuple[float, float]:
    """(peak resident set of the JVM, summed proportional set size of its
    child processes), MB. Forked Python workers share the daemon's pages;
    PSS counts those once instead of once per worker."""
    hwm = _proc_kb(f"/proc/{jvm}/status", "VmHWM:")
    pss = sum(_proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:") for pid in children)
    return hwm / 1024.0, pss / 1024.0


# ----------------------------------------------------------------- the spark


def make_spark(workdir: str, trace: bool):
    """local[CORES] session through the package's own factory; status
    retention is raised so every stage of a run stays readable."""
    os.environ.setdefault("SOQ_DRIVER_MEM", "2g")  # small inputs; host memory is shared
    os.environ["SOQ_ICEBERG_WAREHOUSE"] = os.path.join(workdir, "iceberg")
    # spark-submit's launcher JVM would otherwise write its perf data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from simple_osm_queries_spark import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the package's own JVM flag, plus: temp files inside the work dir and
    # no hsperfdata file (the JVM puts it in the system temp dir whatever
    # java.io.tmpdir says)
    java_opts = f"-XX:-DontCompileHugeMethods -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        "perfbench",
        cores=CORES,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "200000",
            "spark.ui.retainedStages": "200000",
            "spark.sql.ui.retainedExecutions": "200000" if trace else "1000",
            "spark.checkpoint.dir": os.path.join(workdir, "checkpoints"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def heap_live_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the program
    keeps (cached tables, broadcasts, status) once the work is done."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


# ------------------------------------------------------------------- records


@dataclass
class OpRecord:
    """One timed call of the measured loop."""

    kind: str  # the op's label, e.g. "web.query" or "knn.knn_kring"
    t0: float
    t1: float
    traced: bool = False
    ok: bool = True
    check: object = None  # deferred oracle check: callable -> str | None
    rows: int = 0  # input rows the call consumed (batch workloads)
    op_id: str = ""
    cpu_s: float = 0.0  # process-tree CPU of the call (traced calls only)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str
    group: str | None
    sid: int = 0


@dataclass
class Tracer:
    """Spans kept in memory, written as JSON at exit. Disabled tracers
    record nothing and set no job group."""

    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def new_op_id(self, label: str) -> str:
        return f"{label}#{next(self._ids)}"

    @contextlib.contextmanager
    def span(self, name: str, op_id: str, group: bool = False):
        """Record a span; ``group=True`` also labels the thread's Spark
        jobs with the op id so stage and plan metrics can be found."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        if group:
            self.sc.setJobGroup(op_id, op_id, interruptOnCancel=False)
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(
                    Span(name, t0, t1, parent, op_id, op_id if group else None, sid)
                )

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = union_length(
                [(c.start, c.end) for c in children.get(s.sid, [])]
            )
            out[s.sid] = (s.end - s.start) - covered
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------- spark status stores


class StatusReader:
    """Reads Spark's live status stores (they work with the UI disabled):
    stage metrics per job group, job intervals and executed-plan nodes."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._no_q = self.sc._gateway.new_array(self.jvm.double, 0)

    def drain(self) -> None:
        """Wait until every posted listener event reached the stores."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _seq(self, seq) -> list:
        return list(self.conv.asJava(seq))

    def stage_ids_of_jobs(self, job_ids) -> set[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return out

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, stage_ids) -> dict[str, float]:
        """Summed metrics over every attempt of the given stages."""
        tot = dict(run_s=0.0, cpu_s=0.0, shuffle_bytes=0.0, spill_bytes=0.0,
                   tasks=0.0, input_rows=0.0, shuffle_write_rows=0.0)
        store = self.jsc.statusStore()
        empty = self.jvm.java.util.ArrayList()
        for sid in stage_ids:
            try:
                attempts = self._seq(store.stageData(sid, False, empty, False, self._no_q))
            except Exception:  # evicted or never started (skipped)
                continue
            for sd in attempts:
                tot["run_s"] += sd.executorRunTime() / 1e3
                tot["cpu_s"] += sd.executorCpuTime() / 1e9
                tot["shuffle_bytes"] += sd.shuffleWriteBytes() + sd.shuffleReadBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["tasks"] += sd.numTasks()
                tot["input_rows"] += sd.inputRecords()
                tot["shuffle_write_rows"] += sd.shuffleWriteRecords()
        return tot

    def job_intervals(self, job_ids) -> list[tuple[float, float]]:
        store = self.jsc.statusStore()
        out = []
        for j in job_ids:
            try:
                jd = store.job(j)
                s, e = jd.submissionTime(), jd.completionTime()
                if s.isDefined() and e.isDefined():
                    out.append((s.get().getTime() / 1e3, e.get().getTime() / 1e3))
            except Exception:
                continue
        return out

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def plan_nodes(self, group: str) -> list[dict]:
        """Executed-plan nodes (final AQE plan) of every SQL execution
        whose description is ``group``: name, desc and parsed row counts,
        plus the row count of the node's inputs."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for ex in self._seq(sql.executionsList()):
            if ex.description() != group:
                continue
            eid = ex.executionId()
            graph = sql.planGraph(eid)
            values = dict(self.conv.asJava(sql.executionMetrics(eid)))
            nodes = {}
            for nd in self._seq(graph.allNodes()):
                rows = None
                for m in self._seq(nd.metrics()):
                    if m.name() == "number of output rows":
                        rows = _parse_metric(values.get(m.accumulatorId()))
                nodes[nd.id()] = dict(name=nd.name(), desc=nd.desc(), rows=rows, kids=[])
            for ed in self._seq(graph.edges()):
                if ed.toId() in nodes:
                    nodes[ed.toId()]["kids"].append(ed.fromId())
            for nd in nodes.values():
                nd["in_rows"] = _rows_below(nodes, nd["kids"])
            out.extend(nodes.values())
        return out


def _parse_metric(text) -> float | None:
    if text is None:
        return None
    head = str(text).split("\n")[0].strip().replace(",", "")
    try:
        return float(head)
    except ValueError:
        return None


def _rows_below(nodes: dict, kids: list[int]) -> float | None:
    """Rows flowing into a node: the nearest row count on each input path
    (nodes without a row metric, like Project, pass rows through)."""
    total, seen = 0.0, False
    for k in kids:
        nd = nodes.get(k)
        if nd is None:
            continue
        r = nd["rows"] if nd["rows"] is not None else _rows_below(nodes, nd["kids"])
        if r is not None:
            total += r
            seen = True
    return total if seen else None


def join_rows(nodes: list[dict]) -> list[float]:
    return [n["rows"] or 0.0 for n in nodes if n["name"].endswith("Join")]


def count_nodes(nodes: list[dict], name: str) -> int:
    return sum(1 for n in nodes if n["name"] == name)
