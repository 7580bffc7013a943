"""Run environment, spans, Spark counters and statistics for perfbench.

Everything here observes the program from outside: spans come from
wrapping module attributes where the caller looks them up, job, stage
and task counts from ``setJobGroup`` plus ``statusTracker()``, pinned
RDDs from ``getPersistentRDDs()``, JIT and GC time from the JVM's
management beans, memory and CPU time from ``/proc``.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------
# run environment
# ---------------------------------------------------------------------


class RunEnv:
    """Pins the Spark environment for one run and owns its scratch
    directory (``<root>/.perfbench/work-<pid>``), deleted by ``close``.
    Must be built before the first pyspark session starts."""

    def __init__(self, root: str, bench_dir: str):
        self.root = root
        self.work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = self.tmp
        # executors unpickle the fake transport by module path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (bench_dir, root, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = None
        self.jvm_pid = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """Start the session. The JIT stops at C1
        (``-XX:TieredStopAtLevel=1``): a run's JVM lives about a minute,
        and under the default tiered JIT the C2 compile queue is still
        full when timing starts, so an operation's cost would follow how
        far that queue has got. With C1 alone the code reaches its final
        tier during set-up."""
        from py_etl_pipeline_woocommerce_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                    " -XX:TieredStopAtLevel=1"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and every
        process the JVM started (the Python workers), counting reaped
        children: the work a run costs, whatever the host lends it."""
        ticks = 0
        for pid in [os.getpid(), self.jvm_pid, *_descendants(self.jvm_pid)]:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited since the listing
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        """Driver Python plus JVM peak resident set (VmHWM)."""
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(self.jvm_pid)) / 1024.0

    def close(self) -> None:
        """Stop Spark, wait for the JVM and every process it started,
        then delete the scratch directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = gateway.proc
            kids = _descendants(proc.pid)
            self.spark.stop()
            gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
            deadline = time.time() + 30
            while kids and time.time() < deadline:
                kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
                time.sleep(0.05)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)


def _vm_hwm_kb(pid: int | None) -> int:
    if pid is None:
        return 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# ---------------------------------------------------------------------
# spans and counters
# ---------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent index, operation id,
    plus counters attached at the same boundary. Disabled by default;
    while disabled, ``span`` records nothing and sets no job group."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._patched: list[tuple] = []
        self.op = None

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        group = f"perfbench-{idx}" if jobs else None
        if group:
            self._groups.append(group)
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                rec.update(job_counts(self.sc, group))
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanning wrapper until
        ``restore``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- reading spans back --------------------------------------------
    def roots(self) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["parent"] is None]

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["parent"] == idx]

    def dur(self, idx: int) -> float:
        s = self.spans[idx]
        return s["end"] - s["start"]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its child spans cover."""
        kids = sorted(
            (self.spans[c]["start"], self.spans[c]["end"]) for c in self.children(idx)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.dur(idx) - covered

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def root_residual(self) -> float:
        """Largest |root self time + children's times - op wall| over
        every operation, where the op wall (``"wall"`` on the root) is
        timed by the caller around the whole operation, tracing
        bookkeeping included."""
        worst = 0.0
        for r in self.roots():
            kids = sum(self.dur(c) for c in self.children(r))
            worst = max(worst, abs(self.self_time(r) + kids - self.spans[r]["wall"]))
        return worst

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = dict(s, id=i, start=s["start"] - t0, end=s["end"] - t0)
                f.write(json.dumps(rec) + "\n")


def job_counts(sc, group: str) -> dict:
    """Jobs, stages that ran, and tasks completed under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran, tasks = 0, 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def pinned_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


def jvm_clock(sc) -> dict:
    """Cumulative seconds so far: driver-JVM garbage collection and JIT
    compilation (summed over compiler threads), and the host's steal
    time over all CPUs."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return {
        "gc_s": gc_ms / 1000.0,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "steal_s": steal / os.sysconf("SC_CLK_TCK"),
    }


# ---------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0
