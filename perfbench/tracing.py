"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans come only from the benchmark's own files: the runner records
``setup``, ``session``, ``pass``, ``key``, ``build``, ``action`` and
``check`` intervals, and after each key this module reads what Spark
recorded meanwhile and hangs it under those spans:

* jobs and their stages from the application status store
  (``SparkContext.statusStore``), attributed to the invocation whose time
  window holds the job's submission.  The client is single and
  closed-loop, so every job submitted inside an invocation belongs to it,
  whatever job group it carries (streaming jobs carry their query's
  runId);
* Python-worker metrics of the SQL executions submitted in the window
  (SQL status store, the MapInPandas / ArrowEvalPython / ... nodes);
* micro-batch progress from a ``StreamingQueryListener``, as children of
  the ``build`` span of streaming keys.

The status store keeps ``spark.ui.retainedJobs`` (1000) jobs, so it is
read after every key, outside the invocation's own timing.
"""

from __future__ import annotations

import json
import re
import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_PY_PLAN = re.compile(r"Python|Pandas|Arrow")
_VALUE = re.compile(r"([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_SCALE = {
    "": 1.0,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_MB = 1 / 2**20
# Fields summed over stage attempts that ran: (metric, StageData getter, scale)
_STAGE_FIELDS = (
    ("exec.run_s", "executorRunTime", 1e-3),
    ("exec.cpu_s", "executorCpuTime", 1e-9),
    ("exec.gc_s", "jvmGcTime", 1e-3),
    ("scan.input_mb", "inputBytes", _MB),
    ("scan.input_rows", "inputRecords", 1),
    ("shuffle.read_mb", "shuffleReadBytes", _MB),
    ("shuffle.write_mb", "shuffleWriteBytes", _MB),
    ("spill_mb", "diskBytesSpilled", _MB),
)
# Micro-batch phases: (metric, durationMs keys summed)
_PHASES = (
    ("stream.trigger_s", ("triggerExecution",)),
    ("stream.addBatch_s", ("addBatch",)),
    ("stream.walCommit_s", ("walCommit",)),
    ("stream.commitOffsets_s", ("commitOffsets",)),
    ("stream.queryPlanning_s", ("queryPlanning",)),
    ("stream.source_s", ("latestOffset", "getBatch")),
)


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric, in s, MiB or plain units.

    A metric aggregated over several tasks reads
    ``"total (min, med, max ...)\\n2.7 s (0.1 s, ...)"``; one task's reads
    ``"2.7 s"``."""
    m = _VALUE.match(text.rsplit("\n", 1)[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _StreamEvents(StreamingQueryListener):
    """Collects query starts and progress reports from Spark's listener bus."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[tuple[str, float, dict]] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._events.append(("start", _epoch(event.timestamp), {}))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._events.append(("progress", _epoch(p["timestamp"]), p))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[tuple[str, float, dict]]:
        with self._lock:
            out, self._events = self._events, []
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    """Span recorder plus readers of Spark's status stores."""

    def __init__(self, spark) -> None:
        self.spans: list[dict] = []
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._job_cls = spark._jvm.java.lang.Class.forName(
            "org.apache.spark.status.JobDataWrapper"
        )
        self._last_job = -1
        self._last_exec = -1
        self._stream = _StreamEvents()
        spark.streams.addListener(self._stream)
        # per-invocation layer records of the timed passes
        self.records: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: int | None,
             inv: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "inv": inv, **attrs})
        return len(self.spans) - 1

    def _deepest(self, t: float, among: list[int]) -> int:
        """Innermost span of ``among`` (ids, outermost first) holding ``t``."""
        best = among[0]
        for sid in among:
            s = self.spans[sid]
            # Spark reports whole milliseconds: allow that much slack.
            if s["start"] - 1e-3 <= t <= s["end"] + 1e-3:
                best = sid
        return best

    def collect(self, inv: int, key_span: int, build: int, action: int,
                window: list[int], timed: bool) -> None:
        """Read what Spark recorded since the last call, hang it under the
        spans of ``window`` (ids, outermost first: pass, key, build,
        action, check ...) and, for a timed invocation, keep its layer
        record."""
        self._bus.waitUntilEmpty()
        rec = {"inv": inv, "key": self.spans[key_span]["key"], "jobs": 0,
               "build_jobs": 0, "stages": 0, "tasks": 0, "job_spans": []}
        k = self.spans[key_span]
        b = self.spans[build]
        rec["wall_s"] = k["end"] - k["start"]
        rec["build_s"] = b["end"] - b["start"]
        rec["action_s"] = self.spans[action]["end"] - self.spans[action]["start"]
        for name, _, _ in _STAGE_FIELDS:
            rec[name] = 0.0
        for name in _PY_METRICS.values():
            rec[name] = 0.0
        self._micro_batches(inv, build, rec)
        window = window + [s["id"] for s in self.spans[window[-1] + 1:]
                           if s["name"] == "microbatch"]
        self._jobs(inv, key_span, build, window, rec)
        self._python(key_span, rec)
        if timed:
            self.records.append(rec)

    def _micro_batches(self, inv: int, build: int, rec: dict) -> None:
        starts = batches = empty = rows = 0
        phases = {name: 0.0 for name, _ in _PHASES}
        commit = state_rows = state_bytes = 0
        for kind, t, p in self._stream.drain():
            if kind == "start":
                starts += 1
                continue
            d = p.get("durationMs", {})
            batches += 1
            empty += p.get("numInputRows", 0) == 0
            rows += p.get("numInputRows", 0)
            for name, keys in _PHASES:
                phases[name] += sum(d.get(x, 0) for x in keys) / 1e3
            for op in p.get("stateOperators", []):
                commit += op.get("commitTimeMs", 0)
                state_rows = max(state_rows, op.get("numRowsTotal", 0))
                state_bytes = max(state_bytes, op.get("memoryUsedBytes", 0))
            self.span("microbatch", t, t + d.get("triggerExecution", 0) / 1e3,
                      build, inv, batch=p.get("batchId"), rows=p.get("numInputRows"))
        rec.update(phases)
        rec.update({
            "stream.lifecycles": starts, "stream.batches": batches,
            "stream.empty_batches": empty, "stream.input_rows": rows,
            "stream.state_commit_s": commit / 1e3,
            "stream.state_rows": state_rows, "stream.state_mb": state_bytes * _MB,
        })

    def _jobs(self, inv: int, key_span: int, build: int, window: list[int],
              rec: dict) -> None:
        it = self._store.store().view(self._job_cls).reverse().max(1).closeableIterator()
        newest = it.next().info().jobId() if it.hasNext() else self._last_job
        it.close()
        fresh = []
        for jid in range(self._last_job + 1, newest + 1):
            try:
                fresh.append(self._store.job(jid))
            except Exception:  # noqa: BLE001 — py4j wraps NoSuchElementException
                pass
        self._last_job = max(self._last_job, newest)
        k = self.spans[key_span]
        seen_stages: set[int] = set()
        for j in fresh:
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime() / 1e3
            done = j.completionTime()
            t1 = done.get().getTime() / 1e3 if done.isDefined() else t0
            parent = self._deepest(t0, window)
            group = j.jobGroup()
            jid = self.span("job", t0, t1, parent, inv, job=j.jobId(),
                            group=group.get() if group.isDefined() else None)
            inside = k["start"] - 1e-3 <= t0 <= k["end"] + 1e-3
            if inside:
                rec["jobs"] += 1
                rec["job_spans"].append((max(t0, k["start"]), min(t1, k["end"])))
                if self._within(jid, build):
                    rec["build_jobs"] += 1
            for sid in self._conv.asJava(j.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                self._stage(sid, inv, jid, rec if inside else None)

    def _within(self, sid: int, ancestor: int) -> bool:
        while sid is not None:
            if sid == ancestor:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def _stage(self, sid: int, inv: int, job_span: int, rec: dict | None) -> None:
        try:
            s = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j wraps NoSuchElementException
            return
        if s.status().toString() == "SKIPPED":
            return
        sub, done = s.submissionTime(), s.completionTime()
        t0 = sub.get().getTime() / 1e3 if sub.isDefined() else self.spans[job_span]["start"]
        t1 = done.get().getTime() / 1e3 if done.isDefined() else t0
        self.span("stage", t0, t1, job_span, inv, stage=sid, tasks=s.numTasks())
        if rec is None:
            return
        rec["stages"] += 1
        rec["tasks"] += s.numTasks()
        for name, getter, scale in _STAGE_FIELDS:
            rec[name] += getattr(s, getter)() * scale

    def _python(self, key_span: int, rec: dict) -> None:
        k = self.spans[key_span]
        n = self._sql.executionsCount()
        last = self._conv.asJava(self._sql.executionsList(max(n - 1, 0), 1))
        newest = last.get(0).executionId() if last.size() else self._last_exec
        fresh = []
        for eid in range(self._last_exec + 1, newest + 1):
            ex = self._sql.execution(eid)
            if ex.isDefined():
                fresh.append(ex.get())
        self._last_exec = max(self._last_exec, newest)
        for ex in fresh:
            t = ex.submissionTime() / 1e3
            if not (k["start"] - 1e-3 <= t <= k["end"] + 1e-3):
                continue
            if not _PY_PLAN.search(ex.physicalPlanDescription() or ""):
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for m in self._conv.asJava(ex.metrics()):
                name = _PY_METRICS.get(m.name())
                if name is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    rec[name] += parse_metric(v.get())

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            a, b = s["start"], s["end"]
            covered = _union([(max(a, x), min(b, y)) for x, y in kids.get(s["id"], [])
                              if min(b, y) > max(a, x)])
            out[s["name"]] = out.get(s["name"], 0.0) + (b - a) - covered
        return out

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Per-pass sums over the timed invocations (maxima for state size)."""
        n = max(passes, 1)
        out: dict[str, float] = {}
        maxed = ("stream.state_rows", "stream.state_mb")
        for rec in self.records:
            rec["driver_gap_s"] = rec["wall_s"] - _union(rec["job_spans"])
            for name, v in rec.items():
                if name in ("inv", "key", "job_spans", "wall_s"):
                    continue
                if name in maxed:
                    out[name] = max(out.get(name, 0), v)
                else:
                    out[name] = out.get(name, 0) + v / n
        batches = out.get("stream.batches", 0)
        out["stream.data_batch_ratio"] = (
            (batches - out.get("stream.empty_batches", 0)) / batches if batches else 0.0
        )
        stream_build = sum(r["build_s"] for r in self.records
                           if r["stream.lifecycles"]) / n
        out["stream.lifecycle_overhead_s"] = stream_build - out.get("stream.trigger_s", 0)
        return out
