"""Measurement machinery shared by the workloads.

Load model: a closed loop with one client.  One thread of the Spark driver
issues one operation at a time to ``local[<cores>]``; the next starts only
after the previous one's result is back and its state is released.

An *operation* has two phases, each timed as its own span:

- ``build``: the call into the layer under test (a query constructor, or a
  ``Dataset`` facade call).  Any Spark job it fires is a build job.
- ``action``: collecting the DataFrame the operation hands back.  Write
  calls have no action.

Operation time is the sum of the two spans.  After each operation the
benchmark counts persistent RDDs it left behind, then clears the SQL cache
and unpersists them, so no operation is timed against another's cached
state.  That cleanup is outside the spans.

With tracing on, every phase runs under its own Spark job group and the
event log is written uncompressed; :func:`spark_by_group` folds its job,
stage and task records back onto the spans.  Nothing inside
``padawan_spark`` is instrumented.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

PHASES = ("build", "action")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Settings the benchmark pins on top of the library's session
    defaults.  Shuffle width is two tasks per core: the library default of
    32 was sized for a 32-core machine and doubles pass time on four
    cores.  The periodic-GC interval is the library default, restated so
    a change of default does not change the benchmark.  Every path stays
    inside the work directory (the caller points ``SPARK_LOCAL_DIRS``
    there too)."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": str(2 * cores()),
        "spark.cleaner.periodicGC.interval": "5min",
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # compiler threads stay alive, so their CPU can be left out of
        # tree_cpu_s (a thread that exits leaves its time in the total)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


@dataclass
class Op:
    """One operation of a pass.

    ``prepare`` resets memoized state the operation would otherwise
    skip; ``call`` performs the build phase and returns what the layer
    handed back; ``frame`` turns that into the DataFrame the action
    collects (or None for writes); ``summary`` reduces the collected rows
    (or, without an action, the call's return value) to what the oracle
    check compares.
    """

    name: str
    kind: str                       # "read" or "write"
    call: Callable[[], Any]
    frame: Callable[[Any], Any] | None = None
    summary: Callable[[Any], Any] = lambda x: x
    family: str = ""
    prepare: Callable[[], None] | None = None   # untimed, before the build


@dataclass
class Span:
    group: str
    op: str
    pass_no: int
    index: int
    phase: str
    start: float                    # epoch seconds
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class OpRecord:
    op: str
    kind: str
    family: str
    pass_no: int
    index: int
    seconds: float = 0.0
    build_s: float = 0.0
    action_s: float = 0.0
    plan_s: float = 0.0
    cpu_s: float = 0.0
    rows_out: int = 0
    leaked_rdds: int = 0
    result: Any = None
    error: str | None = None


@dataclass
class Runner:
    """Runs operations one at a time and records their spans."""

    spark: Any
    trace: bool
    spans: list[Span] = field(default_factory=list)
    records: list[OpRecord] = field(default_factory=list)

    @contextlib.contextmanager
    def phase(self, op: str, pass_no: int, index: int, phase: str):
        group = f"pb-{pass_no}-{index}-{phase}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(group, op)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(group, op, pass_no, index, phase, start,
                                   end))

    def run(self, op: Op, pass_no: int, index: int) -> OpRecord:
        rec = OpRecord(op.name, op.kind, op.family, pass_no, index)
        n0 = len(self.spans)
        try:
            if op.prepare is not None:
                op.prepare()
            cpu0 = tree_cpu_s()
            with self.phase(op.name, pass_no, index, "build"):
                out = op.call()
            if op.frame is not None:
                df = op.frame(out)
                if self.trace:
                    from padawan_spark.plans.audit import physical_plan
                    t = time.perf_counter()
                    physical_plan(df)
                    rec.plan_s = time.perf_counter() - t
                with self.phase(op.name, pass_no, index, "action"):
                    out = df.collect()
                rec.rows_out = len(out)
            rec.cpu_s = tree_cpu_s() - cpu0
            rec.result = op.summary(out)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            rec.error = traceback.format_exc(limit=4)
        for sp in self.spans[n0:]:
            setattr(rec, f"{sp.phase}_s", sp.seconds)
        rec.seconds = rec.build_s + rec.action_s
        rec.leaked_rdds = release_state(self.spark)
        self.records.append(rec)
        return rec

    def run_pass(self, ops: list[Op], pass_no: int) -> list[OpRecord]:
        return [self.run(op, pass_no, i) for i, op in enumerate(ops)]


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as fh:
            head, _, rest = fh.read().rpartition(")")
    except OSError:
        return None
    return head.partition("(")[2], rest.split()


def _procs() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, CPU ticks including reaped children, start
    time) of every process."""
    stats = {}
    for pid in os.listdir("/proc"):
        st = _stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st:
            stats[int(pid)] = (int(st[1][1]), sum(map(int, st[1][11:15])),
                               st[1][19])
    return stats


def _tree(stats: dict[int, tuple[int, int, str]], root: int) -> set[int]:
    """``root`` and every process descended from it."""
    mine, todo = set(), [root]
    while todo:
        p = todo.pop()
        mine.add(p)
        todo.extend(c for c, (pp, _, _) in stats.items() if pp == p)
    return mine


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    Spark driver's JVM and its Python workers), including reaped children,
    but not by JIT compiler threads: compilation left over from the warm-up
    is the measurement's noise, not the workload's work."""
    stats = _procs()
    ticks = 0
    for p in _tree(stats, os.getpid()) & stats.keys():
        ticks += stats[p][1]
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:            # exited since the scan
            continue
        for tid in tids:
            st = _stat(f"/proc/{p}/task/{tid}/stat")
            if st and "CompilerThre" in st[0]:
                ticks -= sum(map(int, st[1][11:13]))
    return ticks / _TICK


def _running(pid: int, start: str) -> bool:
    """Whether process ``pid`` (started at ``start``) still runs; a
    zombie has ended, and a child of this process is reaped."""
    with contextlib.suppress(ChildProcessError):
        os.waitpid(pid, os.WNOHANG)
    st = _stat(f"/proc/{pid}/stat")
    return st is not None and st[1][19] == start and st[1][0] != "Z"


def stop_processes(timeout: float = 30.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The Spark session is stopped first, then the driver JVM is let go the
    way PySpark means it to: it exits when its stdin closes.  Whatever
    descendant is still running after that (a Python worker the JVM
    forked, or the JVM itself if it hangs) is terminated, then killed."""
    me = os.getpid()
    stats = _procs()
    procs = {p: stats[p][2] for p in _tree(stats, me) - {me}}
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc_cls = pyspark.SparkContext
        with contextlib.suppress(Exception):
            if sc_cls._active_spark_context is not None:
                sc_cls._active_spark_context.stop()
        proc = getattr(sc_cls._gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            with contextlib.suppress(Exception):
                proc.wait(timeout)
    stats = _procs()
    procs.update({p: stats[p][2] for p in _tree(stats, me) - {me}})
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = {p: s for p, s in procs.items() if _running(p, s)}
        for p in left:
            with contextlib.suppress(OSError):
                os.kill(p, sig)
        deadline = time.monotonic() + timeout / 2
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = {p: s for p, s in left.items() if _running(p, s)}
        if not left:
            return


def release_state(spark) -> int:
    """Count persistent RDDs, then drop every cached table and RDD."""
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = jrdds.size()
    spark.catalog.clearCache()
    for rdd in list(jrdds.values()):
        rdd.unpersist(True)
    return leaked


def retained_heap_mb(spark) -> float:
    """Spark driver JVM heap in use after explicit full collections,
    repeated until two readings agree: each collection lets Spark's
    context cleaner drop more broadcast and shuffle state that the last
    one made unreachable."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    last = None
    for _ in range(8):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        used = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if last is not None and abs(used - last) < 1.0:
            break
        last = used
    return used


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# Spark event log


@dataclass
class GroupStats:
    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    deser_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    input_bytes: int = 0


def _event_files(logdir: str) -> list[str]:
    """Every event file: a plain log, or the ``events_*`` parts of a
    rolling ``eventlog_v2_*`` directory, in order."""
    out = []
    for path in sorted(glob.glob(os.path.join(logdir, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out.extend(sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1])))
        elif not path.endswith(".inprogress") or os.path.getsize(path):
            out.append(path)
    return out


def spark_by_group(logdir: str) -> dict[str, GroupStats]:
    """Job, stage and task totals per job group from the event log.

    Stage submissions carry the submitting job's properties, so each stage
    (and every task of it) lands on the group that ran it; a stage reused
    from an earlier job is never resubmitted and so never double counts."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, float]] = {}
    for path in _event_files(logdir):
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        job_group[ev["Job ID"]] = (g, ev["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    hit = job_group.pop(ev["Job ID"], None)
                    if hit:
                        groups.setdefault(hit[0], GroupStats()).jobs.append(
                            (hit[1] / 1e3, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        sid = ev["Stage Info"]["Stage ID"]
                        stage_group[sid] = g
                        groups.setdefault(g, GroupStats()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = groups.setdefault(g, GroupStats())
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.tasks += 1
                    st.task_s += (info["Finish Time"] - info["Launch Time"]) / 1e3
                    st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    st.deser_s += m.get("Executor Deserialize Time", 0) / 1e3
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
                    st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                    st.input_bytes += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
    return groups


def covered(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Seconds of ``span`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, span.start), min(b, span.end))
                     for a, b in intervals)
    total, reach = 0.0, span.start
    for a, b in clipped:
        a = max(a, reach)
        if b > a:
            total += b - a
            reach = b
    return total


SPARK_FIELDS = ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
                "deser_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "fetch_wait_s", "spill_bytes", "input_bytes", "slot_util")


def spark_metrics(spans: list[Span], groups: dict[str, GroupStats],
                  n_cores: int) -> dict[str, float]:
    """``spark.<field>.<phase>`` summed over ``spans`` (one pass)."""
    out: dict[str, float] = {}
    for phase in PHASES:
        sel = [s for s in spans if s.phase == phase]
        stats = [groups.get(s.group, GroupStats()) for s in sel]
        for f in SPARK_FIELDS[1:-1]:
            out[f"spark.{f}.{phase}"] = sum(getattr(g, f) for g in stats)
        out[f"spark.jobs.{phase}"] = sum(len(g.jobs) for g in stats)
        wall = sum(s.seconds for s in sel)
        out[f"spark.slot_util.{phase}"] = (
            out[f"spark.task_s.{phase}"] / (wall * n_cores) if wall else 0.0)
    return out


def common_layer(records: list[OpRecord], spans: list[Span],
                 groups: dict[str, GroupStats], n_cores: int
                 ) -> dict[str, float]:
    """Spark, action and state figures of one pass."""
    out = spark_metrics(spans, groups, n_cores)
    out["action.action_s"] = sum(r.action_s for r in records)
    out["action.plan_s"] = sum(r.plan_s for r in records)
    out["action.rows_out"] = sum(r.rows_out for r in records)
    out["state.leaked_rdds"] = sum(r.leaked_rdds for r in records)
    return out


def write_trace(path: str, records: list[OpRecord], spans: list[Span],
                groups: dict[str, GroupStats]) -> None:
    """Per-operation records plus their spans, one JSON object a line."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for rec in records:
            row = {k: v for k, v in vars(rec).items() if k != "result"}
            row["spans"] = []
            for s in spans:
                if s.pass_no == rec.pass_no and s.index == rec.index:
                    g = groups.get(s.group, GroupStats())
                    d = {k: v for k, v in vars(g).items() if k != "jobs"}
                    d.update(phase=s.phase, start=s.start, end=s.end,
                             jobs=len(g.jobs),
                             driver_s=s.seconds - covered(s, g.jobs))
                    row["spans"].append(d)
            fh.write(json.dumps(row, default=str) + "\n")
