"""Measurement helpers that live outside the engine: the SparkSession's
lifetime, in-memory trace spans, Spark status-store counters per op, and
peak RSS from /proc.

Nothing here changes how the engine plans or runs a query.  Counters are
read from the Spark driver's status stores after an op has finished, outside its
timed region; the Spark UI stays off, so the stores are read directly.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError

# ---------------------------------------------------------------------------
# Session lifetime
# ---------------------------------------------------------------------------

HEAP = "2g"


def start_session(root: Path, app: str, cores: int):
    """A fresh local[cores] SparkSession in a newly launched JVM.

    Scratch space (shuffle files, JVM temp files) goes under the checkout so
    a run writes nothing outside it.  The heap is fixed (-Xms == -Xmx) so G1
    does not shrink and regrow it between ops, but it is not pre-touched:
    peak RSS then tracks the memory the run really used."""
    from engine.session import get_spark

    scratch = root / ".perfbench_out" / "spark-local"
    scratch.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_PIN_HEAP", "SPARK_GRAFT_ICEBERG"):
        os.environ.pop(var, None)
    return get_spark(
        app,
        cores=cores,
        extra_conf={
            # -UsePerfData: no hsperfdata file, which the JVM writes under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={scratch}"
            ),
            "spark.local.dir": str(scratch),
            "spark.sql.warehouse.dir": str(root / ".perfbench_out" / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait until the JVM has
    exited, so the next session starts from a cold JVM and no process
    outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    descendant whose parent exits first (a Python worker of a stopped JVM)
    is reparented here instead of to init, where ``reap_children`` sees it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until no child of this process is left: give the children
    ``grace_s`` to exit by themselves, then SIGTERM, then SIGKILL, and reap
    each one."""
    import signal

    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sent = None
    while True:
        while True:  # reap whatever has exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        left = _children().get(me, [])
        if not left:
            return
        now = time.monotonic()
        if now > deadline and sent != signal.SIGKILL:
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sent)
                except ProcessLookupError:
                    pass
            deadline = now + grace_s
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# Peak RSS (psutil is not available; /proc is)
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """High-water RSS summed over this process and every live descendant:
    the JVM and the Python workers it forked.  Read before the session
    stops, while the workers are still alive."""
    kids = _children()
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, []))
    return sum(_hwm_kb(pid) for pid in seen) / 1024.0


# ---------------------------------------------------------------------------
# Trace spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op) around calls into the
    engine's public functions.  Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "op": self.op, "parent": parent})
        self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans[idx]["start"] = start
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(i, [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def write_json(path: Path, payload: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(payload, indent=1, sort_keys=True))
    tmp.replace(path)


# ---------------------------------------------------------------------------
# Spark status-store counters
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of an SQL metric as the status store formats it: either one
    value ('1,154', '8.0 MiB', '6 ms') or a header line followed by
    'total (min, med, max ...)'.  Times come back in seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_PYTHON_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "total_s",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "received_b",
    "number of output rows": "rows",
}
_SCAN_BYTES = "size of files read"


class SparkCounters:
    """Job, stage, task and Python-boundary counters for one op, read from
    the status stores.  The op's jobs are those with ids above the watermark
    taken before it: a job submitted from an engine worker thread does not
    inherit the job description, but it still gets the next job id."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def watermark(self) -> tuple[int, int]:
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(None))
        execs = self.sql_store.executionsList()
        last_exec = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
        return (max(jobs) if jobs else -1, last_exec)

    def read(self, mark: tuple[int, int], t0: float, t1: float) -> dict:
        """Counters of everything submitted after ``mark``; t0/t1 are the op's
        wall-clock bounds (time.time()) for the outside-stages share."""
        job_mark, exec_mark = mark
        jobs = [j for j in self.sc.statusTracker().getJobIdsForGroup(None) if j > job_mark]
        stage_ids, described = set(), 0
        for jid in jobs:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            jd = self.app_store.job(jid)
            if jd.description().isDefined():
                described += 1
        tasks = task_ms = gc_ms = 0
        shuffle_b = spill_b = 0
        intervals = []
        for sid in sorted(stage_ids):
            try:
                st = self.app_store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted: nothing to count
                continue
            if str(st.status().toString()) != "COMPLETE":
                continue
            tasks += st.numCompleteTasks()
            task_ms += st.executorRunTime()
            gc_ms += st.jvmGcTime()
            shuffle_b += st.shuffleWriteBytes()
            spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        stages_run = len(intervals)
        clipped = [(max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1]
        py = {v: 0.0 for v in _PYTHON_METRICS.values()}
        scan_b = 0.0
        execs = self.sql_store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= exec_mark:
                continue
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                if name != "MapInArrow" and not name.startswith("Scan "):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if name == "MapInArrow" and m.name() in _PYTHON_METRICS:
                        py[_PYTHON_METRICS[m.name()]] += parse_metric(v.get())
                    elif name != "MapInArrow" and m.name() == _SCAN_BYTES:
                        scan_b += parse_metric(v.get())
        return {
            "jobs": len(jobs),
            "jobs_described": described,
            "stages": stages_run,
            "tasks": tasks,
            "task_s": task_ms / 1e3,
            "gc_s": gc_ms / 1e3,
            "shuffle_write_mb": shuffle_b / 2**20,
            "spill_mb": spill_b / 2**20,
            "scan_mb": scan_b / 2**20,
            "outside_stages_s": max(0.0, (t1 - t0) - _union_length(clipped)),
            "python": py,
        }
