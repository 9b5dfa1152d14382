"""Layer observers that look at the program from outside.

- ``ProcTree``: CPU seconds and resident memory of this process and
  every descendant (the Spark JVM and its Python workers), from /proc.
- ``SparkObserver``: the Spark jobs and stages an op caused, read from
  the status store for the job group the benchmark sets around the op.
  Jobs started by the op's side threads carry no group; because ops run
  one at a time, they are assigned to the op whose interval they fall
  in and counted as unattributed.
- ``Tracer``: in-memory spans (name, start, end, parent, op id), written
  out when the run ends, and the self time of each layer.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _CLK
    return ppid, comm, cpu


class ProcTree:
    """This process and its descendants."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _snapshot(self) -> dict[int, tuple[int, str, float]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        return procs

    def _tree(self, procs) -> list[int]:
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return [p for p in out if p in procs]

    def cpu(self) -> tuple[float, float]:
        """(CPU seconds of the whole tree, CPU seconds of the Python
        processes under the JVM, i.e. the Spark Python workers)."""
        procs = self._snapshot()
        pids = self._tree(procs)
        total = sum(procs[p][2] for p in pids)
        jvms = [p for p in pids if procs[p][1] == "java"]
        workers = 0.0
        for jvm in jvms:
            for p in ProcTree(jvm)._tree(procs):
                if p != jvm and procs[p][1].startswith("python"):
                    workers += procs[p][2]
        return total, workers

    def rss_mb(self) -> float:
        total_kb = 0
        for pid in self._tree(self._snapshot()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb / 1024.0


class RssSampler:
    """The tree's summed resident memory, sampled while running. The
    median is reported: the peak moves with when the JVM collects and
    how many Python workers happen to be alive."""

    def __init__(self, tree: ProcTree, period_s: float = 0.2):
        self.tree, self.period_s, self.samples = tree, period_s, []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.samples.append(self.tree.rss_mb())
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def median_mb(self) -> float:
        return statistics.median(self.samples)


def _ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkObserver:
    """Per-op Spark records from the status store (works with the UI
    disabled)."""

    STAGE_KEYS = (
        "tasks",
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "input_bytes",
        "shuffle_bytes",
        "spill_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self._seen: set[int] = set(self.tracker.getJobIdsForGroup(None))

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)
        self._seen.update(self.tracker.getJobIdsForGroup(None))

    def jobs(self, group: str) -> tuple[list[int], int]:
        """All jobs of the op just run under ``group``: its grouped jobs
        plus the ungrouped jobs started since ``begin`` (returned as the
        unattributed count)."""
        self._jsc.listenerBus().waitUntilEmpty()
        grouped = list(self.tracker.getJobIdsForGroup(group))
        stray = [j for j in self.tracker.getJobIdsForGroup(None) if j not in self._seen]
        self._seen.update(stray)
        return sorted(grouped + stray), len(stray)

    def record(self, group: str) -> dict:
        """Jobs, stages and stage metrics of the op, plus the job and
        stage intervals (epoch seconds) for the trace."""
        store = self._jsc.statusStore()
        job_ids, stray = self.jobs(group)
        rec = dict.fromkeys(self.STAGE_KEYS, 0.0)
        rec.update(jobs=len(job_ids), unattributed_jobs=stray, stages=0, job_spans=[], stage_spans=[])
        stages_done: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            jd = store.job(j)
            rec["job_spans"].append((j, _ms(jd.submissionTime()), _ms(jd.completionTime())))
            for sid in info.stageIds if info else []:
                if sid in stages_done:
                    continue
                stages_done.add(sid)
                sd = store.lastStageAttempt(sid)
                start = _ms(sd.submissionTime())
                if start is None:  # skipped: its output was reused
                    continue
                rec["stages"] += 1
                rec["tasks"] += sd.numTasks()
                rec["executor_run_s"] += sd.executorRunTime() / 1e3
                rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                rec["gc_s"] += sd.jvmGcTime() / 1e3
                rec["input_bytes"] += sd.inputBytes()
                rec["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                rec["stage_spans"].append((sid, j, start, _ms(sd.completionTime())))
        return rec


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes ``span`` a no-op
    so untraced runs pay one branch per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op, "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_spark(self, op_span: dict, rec: dict) -> None:
        """Attach the op's Spark jobs and stages: a job's parent is the
        innermost benchmark span that contains its submission."""
        inner = [s for s in self.spans if s["op"] == op_span["op"] and s["start"] >= op_span["start"]]
        job_span_id = {}
        for j, start, end in rec["job_spans"]:
            if start is None or end is None:
                continue
            holders = [s for s in inner if s["start"] <= start <= s.get("end", start)]
            parent = max(holders, key=lambda s: s["start"])["id"] if holders else op_span["id"]
            job_span_id[j] = len(self.spans)
            self.spans.append(
                {"id": len(self.spans), "name": "spark.job", "parent": parent, "op": op_span["op"],
                 "start": start, "end": end, "job": j}
            )
        for sid, j, start, end in rec["stage_spans"]:
            if end is None or j not in job_span_id:
                continue
            self.spans.append(
                {"id": len(self.spans), "name": "spark.stage", "parent": job_span_id[j], "op": op_span["op"],
                 "start": start, "end": end, "stage": sid}
            )

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the part of it that
        child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            d -= union_length(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + max(d, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
