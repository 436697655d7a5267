"""Per-operation tracing from outside the engine.

``WallTracer`` times operations and nothing else; it makes no py4j
call, so the untraced runs that give the end-to-end numbers measure
the engine alone. ``SparkTracer`` additionally attributes each
operation's Spark work after it finishes, from Spark's own status
stores:

* jobs: the job group the tracer sets around the operation, plus any
  new group-less jobs. The engine's build and compaction submit some
  jobs from ``ThreadPoolExecutor`` threads, whose JVM threads do not
  inherit the caller's job group; the benchmark has a single caller,
  so every new job during the operation belongs to it.
* stages and tasks: ``AppStatusStore`` job and stage records.
* SQL metrics: the executions started during the operation, read from
  the SQL status store; exact values come from the live accumulators,
  with the store's formatted strings as the fallback.

``RssSampler`` samples the resident memory of every process below the
benchmark (the JVM, the Python daemon and its workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

# SQL metric name -> trace field
SQL_FIELDS = {
    "data sent to Python workers": "py_bytes_sent",
    "time to run Python workers": "py_time_s",
    "size of files read": "scan_bytes",
}
# units in the status store's formatted "size" and "timing" metrics
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class WallTracer:
    """Times operations; ``records`` holds one dict per operation."""

    def __init__(self):
        self.records: list[dict] = []

    @contextmanager
    def op(self, kind: str, **fields):
        rec = {"kind": kind, **fields}
        t0 = time.time()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.time() - t0
            self.records.append(rec)


def _union_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of [a, b) spans clipped to [lo, hi)."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _parse_metric_string(text: str, metric_type: str) -> float:
    """Value of a formatted SQL metric ("total (min, med, max ...)\\n
    4.3 MiB (...)" or a plain number), in bytes or seconds."""
    body = text.split("\n")[-1].strip()
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]+)?", body)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNITS:
        return val * _UNITS[unit]
    return val / 1000.0 if metric_type == "timing" else val


class SparkTracer(WallTracer):
    def __init__(self, spark):
        super().__init__()
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper.registerModule(scala_mod)
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._accums = jvm.org.apache.spark.util.AccumulatorContext
        self._n = 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def op(self, kind: str, **fields):
        self._drain()
        tracker = self._sc.statusTracker()
        ungrouped0 = set(tracker.getJobIdsForGroup(None))
        n_exec0 = int(self._sql.executionsCount())
        self._n += 1
        group = f"perfbench-{self._n}-{kind}"
        self._sc.setJobGroup(group, kind)
        rec = {"kind": kind, **fields}
        t0 = time.time()
        try:
            yield rec
        finally:
            t1 = time.time()
            rec["wall_s"] = t1 - t0
            self._sc._jsc.clearJobGroup()
            self._drain()
            jobs = (set(tracker.getJobIdsForGroup(group))
                    | (set(tracker.getJobIdsForGroup(None)) - ungrouped0))
            rec.update(self._attribute(sorted(jobs), n_exec0, t0, t1))
            self.records.append(rec)

    def _attribute(self, job_ids: list[int], n_exec0: int,
                   t0: float, t1: float) -> dict:
        job_spans, stage_spans = [], []
        out = {"jobs": len(job_ids), "tasks": 0, "executor_cpu_s": 0.0,
               "shuffle_write_bytes": 0}
        for j in job_ids:
            jd = self._json(self._store.job(j))
            if jd.get("submissionTime") and jd.get("completionTime"):
                job_spans.append((jd["submissionTime"] / 1e3,
                                  jd["completionTime"] / 1e3))
            for s in jd["stageIds"]:
                sd = self._json(self._store.lastStageAttempt(s))
                if sd["status"] != "COMPLETE":
                    continue          # skipped stages did no work
                out["tasks"] += sd["numCompleteTasks"]
                out["executor_cpu_s"] += sd["executorCpuTime"] / 1e9
                out["shuffle_write_bytes"] += sd["shuffleWriteBytes"]
                if sd.get("submissionTime") and sd.get("completionTime"):
                    stage_spans.append((sd["submissionTime"] / 1e3,
                                        sd["completionTime"] / 1e3))
        wall = t1 - t0
        in_jobs = _union_s(job_spans, t0, t1)
        in_stages = _union_s(stage_spans, t0, t1)
        # driver_s: no job running (planning, py4j, driver-side Python);
        # sched_gap_s: a job is running but none of its stages is — the
        # time neither the driver nor a stage accounts for
        out["driver_s"] = wall - in_jobs
        out["stage_s"] = in_stages
        out["sched_gap_s"] = max(0.0, in_jobs - in_stages)
        out["unattributed_frac"] = out["sched_gap_s"] / wall if wall > 0 else 0.0
        out.update(self._sql_metrics(n_exec0))
        return out

    def _sql_metrics(self, n_exec0: int) -> dict:
        out = {f: 0.0 for f in SQL_FIELDS.values()}
        n_exec1 = int(self._sql.executionsCount())
        if n_exec1 <= n_exec0:
            return out
        # adaptive re-plans list a node's metrics again, and an engine
        # frame run by two actions lists the same accumulator in both
        # executions: a live accumulator (cumulative) counts once; the
        # store's per-execution strings are summed over executions
        metrics: dict[int, tuple[dict, set[int]]] = {}
        execs = self._sql.executionsList(n_exec0, n_exec1 - n_exec0)
        for i in range(execs.size()):
            e = execs.apply(i)
            for m in self._json(e.metrics()):
                if m["name"] in SQL_FIELDS:
                    metrics.setdefault(m["accumulatorId"], (m, set()))[1].add(
                        e.executionId())
        strings: dict[int, object] = {}
        for acc_id, (m, exec_ids) in metrics.items():
            live = self._accums.get(acc_id)
            if live.isDefined():
                raw = float(live.get().value())
                val = raw / 1e3 if m["metricType"] == "timing" else raw
            else:
                val = 0.0
                for exec_id in exec_ids:
                    if exec_id not in strings:
                        strings[exec_id] = self._sql.executionMetrics(exec_id)
                    text = strings[exec_id].get(acc_id)
                    if text.isDefined():
                        val += _parse_metric_string(text.get(), m["metricType"])
            out[SQL_FIELDS[m["name"]]] += val
        return out


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak summed RSS of the benchmark's descendant processes."""

    def __init__(self, interval_s: float = 0.5):
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)
