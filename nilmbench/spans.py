"""Spans around the benchmark's calls into the program, and the per-layer
numbers Spark's status stores hold for the jobs each span launched.

A span tags the jobs it launches with its own Spark job group, so the
attribution is exact and needs nothing inside the program. While the
workload runs, a span costs two clock reads and one ``setJobGroup``; the
status stores (``spark.ui.enabled=false`` keeps them, only the web UI is
off) are read after the measured window, when the spans are turned into
records.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# SQL plan metrics summed per span; the names are Spark's own labels.
SQL_METRICS = {
    "number of files read": "files_read",
    "number of written files": "files_written",
}
PLAN_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """In-memory span log, written out with the run's trace file. Disabled,
    it only records times (no job groups, no plan-phase reads), which is
    what the untraced end-to-end run uses."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, round_: str, kind: str = "op"):
        """Record one span; ``kind`` is ``op`` for a call into the program,
        ``build`` or ``exec`` for its two halves."""
        sid = len(self.spans)
        tagged = self.enabled  # fixed for the span's life, even if toggled inside
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "round": round_,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"nb-{sid}" if tagged else None,
            "start": time.time(),
            "end": None,
            "plan_ms": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if tagged:
            sc.setJobGroup(rec["group"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if tagged:
                outer = [self.spans[i] for i in self._stack if self.spans[i]["group"]]
                if outer:
                    sc.setJobGroup(outer[-1]["group"], outer[-1]["name"], False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def plan_phases(self, rec: dict, df) -> None:
        """Catalyst phase times of the frame an op returned, read from its
        own QueryPlanningTracker after the action ran."""
        if not self.enabled or df is None or not hasattr(df, "_jdf"):
            return
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in PLAN_PHASES:
                rec["plan_ms"][kv._1()] = float(kv._2().durationMs())


def _opt(x):
    return x.get() if x.isDefined() else None


def attach_spark_counts(spark, spans: list[dict]) -> None:
    """Fill each span with the counts of the jobs in its own group (not its
    children's): jobs, stages, tasks, executor time, bytes, failures,
    the wall time its jobs cover, and SQL file counts."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    sql_store = spark._jsparkSession.sharedState().statusStore()

    job_span: dict[int, dict] = {}
    for s in spans:
        s["counts"] = c = dict.fromkeys(
            (
                "jobs stages tasks executor_run_s executor_cpu_s gc_s input_bytes "
                "output_bytes shuffle_read_bytes shuffle_write_bytes spill_bytes "
                "task_failures stage_retries write_job_s files_read files_written"
            ).split(),
            0,
        )
        c["job_cover_s"] = 0.0
        if s["group"] is None:
            continue
        intervals = []
        for j in tracker.getJobIdsForGroup(s["group"]):
            job_span[j] = s
            jd = store.job(j)
            sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
            c["jobs"] += 1
            job_out = 0
            info = tracker.getJobInfo(j)
            for st in info.stageIds if info else []:
                attempts = store.stageData(st, False, None, False, None)
                if attempts.size() == 0:
                    continue
                c["stages"] += 1
                c["stage_retries"] += attempts.size() - 1
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    c["task_failures"] += sd.numFailedTasks()
                    c["executor_run_s"] += sd.executorRunTime() / 1e3
                    c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["gc_s"] += sd.jvmGcTime() / 1e3
                    c["input_bytes"] += sd.inputBytes()
                    c["output_bytes"] += sd.outputBytes()
                    job_out += sd.outputBytes()
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sub is not None and done is not None:
                iv = (sub.getTime() / 1e3, done.getTime() / 1e3)
                intervals.append(iv)
                if job_out:
                    c["write_job_s"] += iv[1] - iv[0]
        c["job_cover_s"] = _covered(intervals, s["start"], s["end"])

    execs = sql_store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        it = e.jobs().keySet().iterator()
        owner = None
        while it.hasNext():
            job = it.next()
            owner = owner or job_span.get(job)
        if owner is None:
            continue
        values = sql_store.executionMetrics(e.executionId())
        seen = set()
        ms = e.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            key = SQL_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = _opt(values.get(m.accumulatorId()))
            if v:
                owner["counts"][key] += int(v.replace(",", ""))


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of job intervals clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
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
