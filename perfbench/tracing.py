"""Spans, collectors and anchors of the benchmark.

Everything here wraps the program from the outside: a span times one
call into a public function, the Spark status store supplies the job,
stage and task counts of the jobs that ran inside it, and ``/proc``
supplies the write bytes and peak RSS of the driver Python process and
the driver JVM.  Nothing is added inside ``dax_ppdb_spark``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager

# Spark counters summed per operation in a traced run.
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_jobs",
    "failed_tasks",
    "job_active_s",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def tail_percentile(values) -> tuple[int, float] | None:
    """The highest whole percentile above the median with at least ten
    samples ranked beyond it (nearest-rank), as ``(p, value)``; None
    when the sample supports nothing above the median."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 50, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return p, xs[rank - 1]
    return None


class Tracer:
    """In-memory spans: name, start, end, parent and trace id.

    When disabled, :meth:`span` only yields; the untraced run pays no
    bookkeeping.  When enabled, every span also sets a Spark job group
    so the status-store counts of its jobs attach to it, and the time
    the tracer spends on itself is summed in ``overhead_s``.
    """

    def __init__(self, spark, enabled: bool, pids=()) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.pids = tuple(pids)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if trace is None:
            trace = self.spans[parent]["trace"] if parent is not None else name
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": trace, "parent": parent}
        rec["group"] = f"pb:{sid}:{trace}:{name}"
        self.sc.setJobGroup(rec["group"], name)
        self.spans.append(rec)
        self._stack.append(sid)
        rec["write_bytes"] = -write_bytes(self.pids)
        self.overhead_s += time.perf_counter() - t_in
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            rec["write_bytes"] += write_bytes(self.pids)
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - t_out

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        out = {}
        for s in self.spans:
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def attribute(self, jobs: list[dict]) -> None:
        """Attach each job to a span: by its job group, or, for jobs
        submitted from threads the program starts itself (which carry
        no group), to the innermost span open at submission time."""
        by_group = {s["group"]: s for s in self.spans}
        for s in self.spans:
            s["spark"] = dict.fromkeys(SPARK_COUNTERS, 0)
        for job in jobs:
            span = by_group.get(job["group"])
            if span is None:
                inside = [
                    s
                    for s in self.spans
                    if s["start"] <= job["submitted"] <= s["end"]
                ]
                span = max(inside, key=lambda s: s["start"]) if inside else None
            if span is None:
                continue
            job["span"] = span["id"]
            for k in SPARK_COUNTERS:
                span["spark"][k] += job[k]

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)


# -- Spark status store ------------------------------------------------------


def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return int(jobs.apply(0).jobId()) if jobs.size() else -1


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def spark_jobs(spark, after_job_id: int) -> list[dict]:
    """Jobs newer than ``after_job_id`` with their stage counters, read
    from ``statusStore()`` (jobs arrive newest first)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    seen_stages: set[int] = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = int(j.jobId())
        if jid <= after_job_id:
            break
        sub = _opt(j.submissionTime())
        end = _opt(j.completionTime())
        rec = dict.fromkeys(SPARK_COUNTERS, 0)
        rec.update(
            job_id=jid,
            group=_opt(j.jobGroup(), ""),
            status=j.status().toString(),
            submitted=sub.getTime() / 1000.0 if sub is not None else 0.0,
        )
        rec["jobs"] = 1
        rec["failed_jobs"] = int(rec["status"] == "FAILED")
        if sub is not None and end is not None:
            rec["job_active_s"] = (end.getTime() - sub.getTime()) / 1000.0
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = int(ids.apply(k))
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue  # never submitted (skipped) stages carry no attempt
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += int(st.numTasks())
            rec["failed_tasks"] += int(st.numFailedTasks())
            rec["executor_run_s"] += st.executorRunTime() / 1000.0
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["input_bytes"] += int(st.inputBytes())
            rec["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            rec["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            rec["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        out.append(rec)
    return out


# -- /proc -------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _proc_field(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def write_bytes(pids) -> int:
    """Bytes the processes caused to be written to storage."""
    return sum(_proc_field(f"/proc/{p}/io", "write_bytes") for p in pids)


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                kids = []
            out += kids
            todo += kids
    return out


def cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and all its descendants
    so far, reaped children included.  Time the hypervisor steals from
    the vCPUs is not charged to a process, so this does not move with
    the host's load the way wall time does."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    return sum(_proc_field(f"/proc/{p}/status", "VmHWM") for p in pids) / 1024.0


# -- constant-work anchors ---------------------------------------------------


def _numpy_loop(_):
    import numpy as np

    a = np.arange(200_000, dtype=np.float64)
    acc = 0.0
    for _ in range(20):
        acc += float(np.sqrt(a * a + 1.0).sum())
    return acc


def anchors(spark, reps: int = 3) -> dict[str, float]:
    """Fixed work on the JVM, in a Python worker and over py4j, timed
    before the timed region; they move with the box, not the program."""
    sc = spark.sparkContext

    def jvm():
        spark.range(0, 10_000_000, 1, 4).selectExpr("sum(id * 7 % 13)").collect()

    def worker():
        sc.parallelize(range(4), 4).map(_numpy_loop).collect()

    def py4j():
        clock = sc._jvm.java.lang.System
        for _ in range(1000):
            clock.nanoTime()

    out = {}
    for name, fn in (("jvm_s", jvm), ("python_worker_s", worker), ("py4j_s", py4j)):
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    return out


def dir_bytes(root: str, unique_inodes: bool = False) -> int:
    """Bytes of the regular files under ``root``; with
    ``unique_inodes`` a hardlinked file counts once."""
    total, seen = 0, set()
    for d, _dirs, names in os.walk(root):
        for n in names:
            try:
                st = os.lstat(os.path.join(d, n))
            except OSError:
                continue
            if unique_inodes:
                if st.st_ino in seen:
                    continue
                seen.add(st.st_ino)
            total += st.st_size
    return total
