"""Per-layer measurement from outside the program.

Nothing here edits the engine.  Layers are measured by timing calls into
their public functions (``Recorder.span``) and by reading what Spark
already reports:

- the JVM's codegen counters (``CodegenMetrics`` compile count,
  ``CodeGenerator.compileTime``) through py4j, read around every span;
- the event log (written uncompressed and unrolled in traced runs), which
  gives every job, stage and task with its timings and task metrics;
- a ``StreamingQueryListener`` for micro-batch progress;
- the block manager's storage status for session pins.

Jobs are attributed to spans by submission time (spans run back to back on
one driver thread).  In traced runs a py4j hook also tags every JVM call
with the innermost ``etl_schema_spark`` module on the Python stack, so a
job started while building a plan carries the module that started it.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

SITE_PROP = "perfbench.site"
# SQL metrics of the Arrow/Python exec nodes (PythonSQLMetrics)
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
PYTHON_TIME = "time to run Python workers"
BUILD_SITES = (
    "sources.catalog",
    "streaming.scratch",
    "operators.distributed",
    "operators.cachereg",
)


def _union_s(intervals, lo, hi) -> float:
    """Length in seconds of the union of [a, b] ms intervals clipped to
    [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def install_site_hook(spark) -> None:
    """Tag JVM calls with the innermost engine module on the Python stack
    (local property ``perfbench.site``, inherited by the jobs they start)."""
    import py4j.java_gateway as jg

    jsc = spark.sparkContext._jsc
    orig = jg.JavaMember.__call__
    local = threading.local()

    def site() -> str:
        f = sys._getframe(2)
        while f is not None:
            name = f.f_globals.get("__name__", "")
            if name.startswith("etl_schema_spark."):
                return name[len("etl_schema_spark.") :]
            f = f.f_back
        return ""

    def call(self, *args):
        if not getattr(local, "busy", False):
            s = site()
            if s != getattr(local, "site", ""):
                local.busy = True
                try:
                    orig(jsc.setLocalProperty, SITE_PROP, s)
                finally:
                    local.busy = False
                local.site = s
        return orig(self, *args)

    jg.JavaMember.__call__ = call


class StreamProgress:
    """Collects micro-batch progress for every streaming query."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches: list[dict] = []
        self.started = 0
        self.terminated = 0

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                outer.batches.append(
                    {
                        "name": p.name,
                        "batch": p.batchId,
                        "at": time.time(),
                        "trigger_ms": p.durationMs.get("triggerExecution", 0),
                        "commit_ms": p.durationMs.get("commitOffsets", 0)
                        + p.durationMs.get("walCommit", 0),
                        "state_partitions": sum(o.numShufflePartitions for o in ops),
                        "state_rows": sum(o.numRowsTotal for o in ops),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        spark.streams.addListener(Listener())

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's events have arrived."""
        end = time.time() + timeout
        while self.terminated < self.started and time.time() < end:
            time.sleep(0.05)


_CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, as /proc shows their names (15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, int, int, int]:
    """Name, parent pid, own CPU ticks (utime + stime, fields 14-15) and
    reaped children's CPU ticks (cutime + cstime, fields 16-17) from a
    /proc stat file.  A thread's children's ticks are its whole process's."""
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)
    fields = tail.split()
    own = int(fields[11]) + int(fields[12])
    return head.split("(", 1)[1], int(fields[1]), own, int(fields[13]) + int(fields[14])


def jit_threads(jvm_pid: int) -> tuple[int, int]:
    """Number of the JVM's JIT compiler threads and their CPU ticks."""
    n = total = 0
    base = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(base):
        try:
            name, _, own, _ = _stat(f"{base}/{tid}/stat")
        except OSError:
            continue  # the thread exited while we listed it
        if name in JIT_THREADS:
            n += 1
            total += own
    return n, total


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time (user + system) used so far by this process, by the driver
    JVM and by every live descendant of it (the Python worker daemon and
    its workers), including the children each has reaped, less the JVM's
    JIT compiler threads.

    Time the host steals from this guest is charged to no process, so on a
    shared host this reads the same work alike where the wall clock does
    not.  JIT compilation runs on background threads whose share of a
    pass depends on when HotSpot chose to compile what, so it is left out:
    it was a third to over half of every pass's CPU and most of its
    run-to-run spread.  The JVM runs with a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``): a thread that exited
    would leave its time in the process total with no thread to subtract
    it from."""
    total = time.process_time()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            _, ppid, own, reaped = _stat(f"/proc/{entry}/stat")
        except OSError:
            continue  # the process exited while we listed /proc
        pid = int(entry)
        parent[pid] = ppid
        ticks[pid] = own + reaped
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != jvm_pid:
            p = parent.get(p, 0)
        if p == jvm_pid:
            total += t / _CLK_TCK
    return total - jit_threads(jvm_pid)[1] / _CLK_TCK


class Recorder:
    """Times spans (one operator call or one action of one query in one
    pass) in wall and CPU time; in traced runs also reads codegen counters
    around each span."""

    def __init__(self, spark, trace: bool, jvm_pid: int):
        self.spark = spark
        self.trace = trace
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.pass_marks: list[dict] = []
        self.timers: dict[str, float] = {}
        if trace:
            jvm = spark.sparkContext._jvm
            self._compiles = (
                jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
            )
            self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            self.codegen_cache = int(
                spark.conf.get("spark.sql.codegen.cache.maxEntries", "100")
            )
            self.stream = StreamProgress(spark)
            install_site_hook(spark)

    def _codegen_now(self):
        return self._compiles.getCount(), self._codegen.compileTime() / 1e6

    @contextmanager
    def span(self, pass_no: int, kind: str, query: str):
        rec = {"pass": pass_no, "kind": kind, "query": query}
        if self.trace:
            c0, ms0 = self._codegen_now()
        cpu0 = cpu_seconds(self.jvm_pid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["cpu_s"] = cpu_seconds(self.jvm_pid) - cpu0
            if self.trace:
                c1, ms1 = self._codegen_now()
                rec["compiles"] = c1 - c0
                rec["compile_ms"] = ms1 - ms0
            self.spans.append(rec)

    def end_pass(self, pass_no: int, extra: dict | None = None) -> None:
        """Record end-of-pass status: storage held by session pins."""
        mark = {"pass": pass_no}
        if self.trace:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            mark["storage_mb"] = (
                sum(i.memSize() + i.diskSize() for i in infos) / 2**20
            )
        mark.update(extra or {})
        self.pass_marks.append(mark)


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task totals from an uncompressed event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    first_job_of_stage: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "id": jid,
                        "start": ev["Submission Time"],
                        "end": ev["Submission Time"],
                        "site": props.get(SITE_PROP, ""),
                        "stages": [],
                    }
                    for sid in ev.get("Stage IDs", []):
                        first_job_of_stage.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    st = stages.setdefault(sid, _new_stage(sid))
                    st["start"] = info.get("Submission Time", 0)
                    st["end"] = info.get("Completion Time", st["start"])
                    st["tasks"] += info.get("Number of Tasks", 0)
                    cached = [
                        r
                        for r in info.get("RDD Info", [])
                        if _uses_storage(r.get("Storage Level", {}))
                    ]
                    st["cached_rdds"] = [r["RDD ID"] for r in cached]
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name") or ""
                        if name in PYTHON_BYTES:
                            st["python_bytes"] += _num(acc.get("Value"))
                        elif name == PYTHON_TIME:
                            st["python_ms"] += _num(acc.get("Value"))
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = stages.setdefault(sid, _new_stage(sid))
                    m = ev.get("Task Metrics") or {}
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_disk"] += m.get("Disk Bytes Spilled", 0)
                    im = m.get("Input Metrics") or {}
                    st["scan_bytes"] += im.get("Bytes Read", 0)
                    st["scan_rows"] += im.get("Records Read", 0)
    for sid, st in stages.items():
        jid = first_job_of_stage.get(sid)
        if jid in jobs:
            jobs[jid]["stages"].append(st)
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"])}


def _new_stage(sid: int) -> dict:
    return {
        "id": sid,
        "start": 0,
        "end": 0,
        "tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read": 0,
        "shuffle_write": 0,
        "spill_disk": 0,
        "scan_bytes": 0,
        "scan_rows": 0,
        "python_ms": 0.0,
        "python_bytes": 0,
        "cached_rdds": [],
    }


def _uses_storage(level: dict) -> bool:
    return bool(level.get("Use Memory") or level.get("Use Disk"))


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def attribute(spans: list[dict], log: dict) -> None:
    """Attach each job to the span its submission time falls in, and give
    every span its self time (wall minus the union of its jobs)."""
    ordered = sorted(spans, key=lambda s: s["start"])
    starts = [s["start"] * 1000.0 for s in ordered]
    import bisect

    for s in ordered:
        s["jobs"] = []
    for job in log["jobs"]:
        i = bisect.bisect_right(starts, job["start"]) - 1
        if i >= 0 and job["start"] <= ordered[i]["end"] * 1000.0 + 1:
            ordered[i]["jobs"].append(job)
    for s in ordered:
        lo, hi = s["start"] * 1000.0, s["end"] * 1000.0
        s["self_s"] = s["wall_s"] - _union_s(
            [(j["start"], j["end"]) for j in s["jobs"]], lo, hi
        )
        s["stage_s"] = _union_s(
            [(st["start"], st["end"]) for j in s["jobs"] for st in j["stages"]], lo, hi
        )
