"""Shared machinery of the benchmark: state directory, Spark session,
spans and self time, Spark status counters, percentiles, process
memory and the repository-state guard.

Everything here observes the package from outside: it starts the
session through ``session.get_spark``, times calls into public
functions, and reads Spark's own status APIs after each operation.
"""

from __future__ import annotations

import gc
import math
import os
import shutil
import subprocess
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PACKAGE = "batch_processing_etl_orchestration_spark"

# Levels tried for the tail percentile, highest first.
TAIL_LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def tail_level(n: int) -> float | None:
    """Highest percentile in TAIL_LADDER that leaves at least ten of
    ``n`` samples beyond it; None when even the median leaves fewer."""
    for q in TAIL_LADDER:
        if n * (1.0 - q) >= 10 - 1e-9:
            return q
    return None


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least a
    share q of the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def tail(values: list[float]) -> float:
    """The latency at ``tail_level``; the maximum when the samples are
    too few for any level (fewer than twenty)."""
    level = tail_level(len(values))
    return max(values) if level is None else percentile(values, level)


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled`` False makes every span a
    no-op, so the untraced run pays one attribute test per call."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.op, len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def wrap(self, name: str, fn: Callable) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (clipped to the parent's own interval)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        cover = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in children.get(sp.sid, [])
            if c.end > sp.start and c.start < sp.end
        ]
        out[sp.sid] = (sp.end - sp.start) - union_length(cover)
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: number of calls, total inclusive time, total
    self time."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        rec = out.setdefault(sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        rec["calls"] += 1
        rec["total_s"] += sp.end - sp.start
        rec["self_s"] += st[sp.sid]
    return out


def patch_everywhere(owner, attr: str, wrapper_for: Callable[[Callable], Callable]):
    """Replace ``owner.attr`` by ``wrapper_for(original)`` and rebind
    every module-level name in the package that still points at the
    original (``from x import f`` copies the binding, so patching the
    defining module alone misses those callers). Returns an undo."""
    orig = getattr(owner, attr)
    wrapped = wrapper_for(orig)
    undo = [(owner, attr, orig)]
    setattr(owner, attr, wrapped)
    for name, mod in list(sys.modules.items()):
        if mod is None or mod is owner or not name.startswith(PACKAGE):
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, wrapped)
                undo.append((mod, k, orig))

    def restore():
        for o, k, v in undo:
            setattr(o, k, v)

    return restore


# ------------------------------------------------------- spark counters

STAGE_FIELDS = {
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}
SPARK_COUNTERS = ("jobs", "stages", "tasks", "driver_gap_s", *STAGE_FIELDS)


class SparkCounters:
    """Reads the jobs an operation ran from the status store. Job ids
    are handed out in sequence, so the jobs of one operation are the
    ids between the scheduler's job counter at its start and at its
    end; with one client thread and one operation in flight that
    includes jobs run from streaming micro-batch threads. Read right
    after each operation, because the store keeps only
    ``spark.ui.retainedJobs`` jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.dag = jsc.dagScheduler()
        self.bus = jsc.listenerBus()
        self.mark = self.next_job()

    def next_job(self) -> int:
        return int(self.dag.numTotalJobs())

    def begin(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc)
        self.mark = self.next_job()

    def collect(self, wall_s: float) -> dict[str, float]:
        end = self.next_job()
        self.bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        intervals = []
        for jid in range(self.mark, end):
            try:
                job = self.store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = job.stageIds().iterator()
            while stage_ids.hasNext():
                try:
                    st = self.store.lastStageAttempt(int(stage_ids.next()))
                except Py4JJavaError:  # stage never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numTasks())
                for key, (getter, scale) in STAGE_FIELDS.items():
                    out[key] += float(getattr(st, getter)()) * scale
        out["driver_gap_s"] = max(0.0, wall_s - union_length(intervals))
        self.mark = end
        self.sc.setJobGroup("idle", "between operations")
        return out


def plan_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of a DataFrame's
    own QueryExecution, planning it now if it is not yet planned."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        ph = phases.get(phase)
        out[phase] = ph.get().durationMs() / 1e3 if ph.isDefined() else 0.0
    return out


# ------------------------------------------------------------- process


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) that a process and all its
    descendants have used, including descendants they have already
    reaped: here the Python driver, the Spark JVM and its Python
    workers. Unlike wall time, it does not grow when the host lends
    the VM's CPUs to others (steal)."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def tree_snapshot(root: str, depth: int = 2) -> dict[str, int]:
    """Relative path -> mtime_ns of every entry down to ``depth``
    levels; an absent root snapshots as empty."""
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    out["."] = os.stat(root).st_mtime_ns

    def walk(d: str, rel: str, level: int) -> None:
        try:
            entries = list(os.scandir(d))
        except OSError:
            return
        for e in entries:
            r = os.path.join(rel, e.name) if rel else e.name
            try:
                out[r] = e.stat(follow_symlinks=False).st_mtime_ns
            except OSError:
                continue
            if level < depth and e.is_dir(follow_symlinks=False):
                walk(e.path, r, level + 1)

    walk(root, "", 1)
    return out


def package_state_roots(checkout: str) -> list[str]:
    """Directories where the package keeps on-disk state outside the
    benchmark's control: the checkout's own ``.tmp`` and the root that
    ``tables.fixture_cache_dir`` and the streaming checkpoint helpers
    resolve to."""
    import importlib

    roots = {os.path.join(checkout, ".tmp")}
    for mod_name in ("streaming.events", "streaming.sink"):
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        ckpt = getattr(mod, "_CHECKPOINT_ROOT", None)
        if ckpt:
            roots.add(os.path.dirname(os.path.normpath(ckpt)))
    return sorted(roots)


# ------------------------------------------------------------- session


def state_dir(checkout: str) -> str:
    return os.path.join(checkout, ".perfbench_state")


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def confine_process(state: str) -> None:
    """Point every temp and scratch location of this process and the
    JVMs it launches into the state directory."""
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    import tempfile

    tempfile.tempdir = tmp


def start_spark(state: str, cores: int):
    """The package's tuned session on local[cores], with warehouse,
    metastore and scratch dirs inside the state directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from batch_processing_etl_orchestration_spark.session import get_spark

    derby = os.path.join(state, "derby")
    os.makedirs(derby, exist_ok=True)
    tmp = os.path.join(state, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
            "spark.local.dir": os.path.join(state, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={derby} -Djava.io.tmpdir={tmp}"
            ),
            "spark.sql.streaming.checkpointLocation": os.path.join(
                state, "checkpoints"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for the JVM
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def collect_garbage(spark) -> None:
    """Full Python and JVM collections, so that a pass does not pay for
    the garbage of the one before it."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
