"""Shared harness: process hygiene, the Spark session, statistics, memory
readings and the span tracer.

The harness times the program from outside: every measured region wraps
a call to a public function of ``ftm_datalake_spark``; no program code
is patched.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import statistics
import threading
import time


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


DRIVER_MEMORY = "2g"  # leaves most of a 15 GB box to the OS and other tenants


def configure_env(root: str, work: str) -> None:
    """Process-level settings that must be in place before pyspark starts:
    cores from nproc, worker imports, and every scratch file inside the
    run's work directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    # Python workers import ftm_datalake_spark (archive_blobs runs a
    # foreachPartition closure); without this they fail outside the
    # repository's working directory.
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): temp files into the work
    # directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


RETAINED = 100_000  # jobs and stages the status tracker keeps for the trace


def build_spark(work: str):
    from ftm_datalake_spark.session import build_session

    cpus = cpu_count()
    spark = build_session(
        app_name="lakebench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed heap (initial = max), as servers are deployed: peak
            # RSS then does not depend on when G1 chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": str(RETAINED),
            "spark.ui.retainedStages": str(RETAINED),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release(spark) -> int:
    """``release_pinned_blocks`` after a timed op, outside its timing."""
    from ftm_datalake_spark.session import release_pinned_blocks

    return release_pinned_blocks(spark)


# ------------------------------------------------------------ statistics
def median(values) -> float:
    return float(statistics.median(values))


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    return float(math.exp(sum(math.log(v) for v in vals) / len(vals)))


# ---------------------------------------------------------------- memory
def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Child processes of ``pid``, recursively (from /proc)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tasks:
            with contextlib.suppress(OSError):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
                out += kids
                todo += kids
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    end = time.monotonic() + timeout
    while time.monotonic() < end and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus its JVM child, from VmHWM
    (read while the JVM is still alive)."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int, children: bool) -> int:
    """utime + stime of ``pid`` (all its threads), plus the CPU of its
    exited and reaped children when ``children``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[11:15] are utime, stime, cutime, cstime (stat fields 14-17)
    return sum(int(f) for f in fields[11:15 if children else 13])


class CpuClock:
    """CPU seconds used by this Python driver, its JVM child and every
    process under the JVM (the Python workers), read from /proc. Unlike
    wall time it does not count time the host gave to other tenants
    (steal) or spent waiting."""

    def __init__(self, spark):
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.jvm = proc.pid if proc is not None else None

    def __call__(self) -> float:
        ticks = _cpu_ticks(os.getpid(), children=False)
        if self.jvm is not None:
            ticks += sum(_cpu_ticks(p, children=True)
                         for p in [self.jvm] + descendants(self.jvm))
        return ticks / _TICK


class StealMeter:
    """Share of this machine's CPU time the hypervisor gave to other
    guests (steal, from /proc/stat) between construction and ``share()``:
    how contended the host was during a phase."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:9]]
        return vals[7], sum(vals)

    def share(self) -> float:
        steal, total = self._read()
        return (steal - self.start[0]) / max(1, total - self.start[1])


# ---------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans around calls into the program's layers.

    Each span has a name, layer, start, end, parent span and op id, and
    runs under its own Spark job group, so the job, stage and task
    counts of every span are read back from ``statusTracker`` when the
    run ends. Spans are kept in memory and written out by ``dump``.
    Disabled, every method is a no-op and no job group is set.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def active(self) -> bool:
        return getattr(self._local, "on", self.enabled)

    @contextlib.contextmanager
    def switch(self, on: bool):
        """Turn spans on or off for the current thread only (a traced
        run alternates traced and untraced ops to measure overhead)."""
        prev = getattr(self._local, "on", None)
        self._local.on = on and self.enabled
        try:
            yield
        finally:
            if prev is None:
                del self._local.on
            else:
                self._local.on = prev

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active():
            yield None
            return
        sc = self.spark.sparkContext
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else sid,
            "group": f"lakebench-{sid}",
        }
        stack.append(rec)
        # [outer_start, outer_end] adds the job-group calls around the
        # span: tracer cost, kept out of the parent's self time
        rec["outer_start"] = time.perf_counter() - self._t0
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec["outer_end"] = time.perf_counter() - self._t0
            with self._lock:
                self.spans.append(rec)

    def resolve_counts(self) -> None:
        """Attach spark_jobs / spark_stages / spark_tasks to every span
        (its own job group only; children count in their own spans)."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        with contextlib.suppress(Exception):
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = 0
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:
                        stages += 1
                        tasks += stage.numTasks
            rec.update(spark_jobs=jobs, spark_stages=stages, spark_tasks=tasks)

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                out.setdefault(rec["parent"], []).append(rec)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans (with their
        tracer cost) cover."""
        kids = self.children()
        out = {}
        for rec in self.spans:
            covered, cur_end = 0.0, None
            for c in sorted(kids.get(rec["id"], []), key=lambda r: r["outer_start"]):
                lo = c["outer_start"] if cur_end is None else max(c["outer_start"], cur_end)
                if c["outer_end"] > lo:
                    covered += c["outer_end"] - lo
                cur_end = c["outer_end"] if cur_end is None else max(cur_end, c["outer_end"])
            out[rec["id"]] = rec["end"] - rec["start"] - covered
        return out

    def subtree_totals(self, key: str) -> dict[int, int]:
        """Per span id: ``key`` summed over the span and its descendants."""
        totals = {r["id"]: r.get(key, 0) for r in self.spans}
        # children end (and are appended) before their parents
        for rec in self.spans:
            if rec["parent"] is not None and rec["parent"] in totals:
                totals[rec["parent"]] += totals[rec["id"]]
        return totals
