"""Run scaffolding shared by the workloads: the pinned Spark session, the
per-run scratch directory, Spark's own counters, the span recorder and
the statistics every metric is computed with.

Nothing here patches or instruments the package: spans wrap calls made
from the benchmark's own code, and counters come from Spark
(``statusTracker``, the JVM management beans) and ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

CPUS = 4  # local[4], pinned: never read from the environment
DRIVER_MEM = "3g"  # fixed heap (SPARK_GRAFT_DRIVER_MEM)
AQE_MIN_BYTES = 1 << 30  # bench.py's rule: AQE only at >= 1 GiB of input


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def p90(xs) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(math.ceil(0.9 * len(xs))) - 1)]


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from #3 (state) on


def _alive(pid: int) -> bool:
    """Running and not yet a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        seen.extend(kids)
        todo.extend(kids)
    return seen


def cpu_s(pid: int, with_reaped_children: bool = False) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if with_reaped_children:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime
    return ticks / _TICK


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id). ``enabled``
    is the run's trace mode; spans are recorded only while ``active``
    (traced runs alternate traced and untraced passes). Inactive, a
    span costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.op_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, o = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, o)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus its
        children's (children never outlive their parent here)."""
        child = [0.0] * len(self.spans)
        for n, t0, t1, p, _ in self.spans:
            if p >= 0:
                child[p] += t1 - t0
        out: dict[str, float] = {}
        for i, (n, t0, t1, _, _) in enumerate(self.spans):
            out[n] = out.get(n, 0.0) + (t1 - t0) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for n, t0, t1, p, o in self.spans:
                fh.write(json.dumps({"name": n, "start": t0, "end": t1, "parent": p, "op": o}) + "\n")


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Run:
    """One benchmark process: scratch directory, Spark session and the
    counters read around each operation."""

    def __init__(self, checkout: str, workload: str, trace: bool):
        self.checkout = checkout
        self.tracer = Tracer(trace)
        base = os.path.join(checkout, ".cfsbench_run")
        os.makedirs(base, exist_ok=True)
        self.dir = os.path.join(base, f"{workload}-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.dir)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        self.spark = None
        self.jvm_pid = 0
        self._group = 0

    # -- session -----------------------------------------------------------

    def start_spark(self, input_bytes: int):
        """Start the JVM and the pinned session; returns seconds taken."""
        t0 = time.perf_counter()
        # every scratch file of Spark, the JVM and the package's own
        # tempfile use lands in this run's directory
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ.pop("SPARK_MASTER", None)
        path = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = self.checkout + (os.pathsep + path if path else "")
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.session import (
            data_scaled_conf,
            get_spark,
        )

        conf = data_scaled_conf(input_bytes, CPUS)
        conf.update({
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}",
            "spark.sql.streaming.checkpointLocation": os.path.join(self.dir, "ckpt"),
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark = get_spark(
            app_name="cfsbench",
            master=f"local[{CPUS}]",
            adaptive=input_bytes >= AQE_MIN_BYTES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm = self.spark._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._mf = jvm.java.lang.management.ManagementFactory
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            workers = descendants(self.jvm_pid)
            with contextlib.suppress(Exception):
                self.spark.stop()
            proc = getattr(gw, "proc", None) if gw is not None else None
            with contextlib.suppress(Exception):
                gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
            # the Python worker daemon exits with the JVM; wait for it
            deadline = time.monotonic() + 10
            while any(map(_alive, workers)) and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in filter(_alive, workers):
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        shutil.rmtree(self.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.dir))

    # -- counters ----------------------------------------------------------

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()))

    def jvm_cpu_s(self) -> float:
        return cpu_s(self.jvm_pid)

    def pyworker_cpu_s(self) -> float:
        """CPU of the Python worker daemon and its workers, live or reaped."""
        return sum(cpu_s(p, with_reaped_children=True) for p in descendants(self.jvm_pid))

    def peak_rss_mb(self) -> float:
        """JVM + this Python driver + the Python workers (VmHWM each)."""
        pids = [self.jvm_pid, os.getpid()] + descendants(self.jvm_pid)
        return sum(hwm_mb(p) for p in pids)

    @contextlib.contextmanager
    def job_group(self):
        """Tag the Spark jobs of one operation; yields the group id."""
        self._group += 1
        gid = f"cfsbench-{self._group}"
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def job_counts(self, gid: str) -> tuple[int, int, int, int]:
        """(jobs, stages, tasks, shuffle write bytes) of one job group."""
        tr = self.spark.sparkContext.statusTracker()
        jobs = tr.getJobIdsForGroup(gid)
        stages = tasks = 0
        shuffle = 0
        store = self.spark.sparkContext._jsc.sc().statusStore()
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = tr.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
                shuffle += _stage_shuffle_write(store, s)
        return len(jobs), stages, tasks, shuffle


def _stage_shuffle_write(store, stage_id: int) -> int:
    """Shuffle bytes written by a stage's last attempt, from the
    application status store (0 once the store has evicted it)."""
    try:
        return int(store.lastStageAttempt(stage_id).shuffleWriteBytes())
    except Exception:
        return 0


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fail(msg: str, code: int = 2) -> None:
    print(f"cfsbench: {msg}", file=sys.stderr)
    sys.exit(code)
