"""Per-layer tracing from the benchmark's side of each engine call.

A span wraps one call into an engine layer. In a traced run every span
tags its Spark jobs with ``setJobGroup(tag)``; a streaming drain runs
its jobs under the query's own job group (its runId), so a
``StreamingQueryListener`` maps each runId to the span that started
the query. After the timed region the job, stage and storage figures
are read from Spark's live status store (it exists with the UI off)
and summed per span name.

With tracing off a span records nothing, so the untraced run measures
the engine alone.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

SPAN_FIELDS = {"wall_s": "s", "jobs": "count", "tasks": "count", "driver_s": "s",
               "task_s": "s", "shuffle_bytes": "bytes"}


class _StreamEvents(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer
        self.lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list[dict[str, int]] = []  # durationMs per trigger

    def onQueryStarted(self, event):
        # Delivered synchronously from DataStreamWriter.start(), on the
        # thread that is inside the span.
        with self.lock:
            self.started += 1
            self._tracer.run_tags[str(event.runId)] = self._tracer.current

    def onQueryProgress(self, event):
        with self.lock:
            self.progress.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.current: str | None = None
        self.spans: list[tuple[str, str, float, float]] = []  # name, tag, t0, t1
        self.run_tags: dict[str, str | None] = {}
        self.stored_bytes = 0
        self.hook_s = 0.0
        self._events = None
        if enabled:
            self._events = _StreamEvents(self)
            spark.streams.addListener(self._events)

    @contextmanager
    def span(self, name: str, tag: str):
        """Time one call into layer ``name``; ``tag`` names its jobs."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        h0 = time.perf_counter()
        sc.setJobGroup(tag, name)
        self.current = tag
        t0 = time.time()
        self.hook_s += time.perf_counter() - h0
        try:
            yield
        finally:
            t1 = time.time()
            h0 = time.perf_counter()
            self.spans.append((name, tag, t0, t1))
            sc.setJobGroup("perfbench.idle", "between spans")
            self.current = None
            self.stored_bytes = max(self.stored_bytes, self._stored_bytes())
            self.hook_s += time.perf_counter() - h0

    def _stored_bytes(self) -> int:
        rdds = self.spark.sparkContext._jsc.sc().statusStore().rddList(True)
        return sum(
            rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()
            for i in range(rdds.size())
        )

    def _wait_for_streams(self, timeout_s: float = 15.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._events.lock:
                if self._events.terminated >= self._events.started:
                    return
            time.sleep(0.05)

    def jobs(self) -> list[dict]:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        js = store.jobsList(None)
        out = []
        for i in range(js.size()):
            j = js.apply(i)
            ids = j.stageIds()
            out.append({
                "group": j.jobGroup().get() if j.jobGroup().isDefined() else None,
                "t0": _opt_ms(j.submissionTime()),
                "t1": _opt_ms(j.completionTime()),
                "stages": [ids.apply(k) for k in range(ids.size())],
            })
        return out

    def stages(self) -> dict[int, dict]:
        sc = self.spark.sparkContext
        gw = sc._gateway
        ss = sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for i in range(ss.size()):
            s = ss.apply(i)
            agg = out[s.stageId()]
            agg["tasks"] += s.numCompleteTasks()
            agg["task_s"] += s.executorRunTime() / 1000.0
            agg["shuffle_bytes"] += s.shuffleWriteBytes()
            agg["input_bytes"] += s.inputBytes()
        return out

    def per_tag(self) -> dict[str, dict]:
        """Counters per span tag: jobs, tasks, task_s, shuffle_bytes,
        input_bytes, and the job intervals (for driver_s)."""
        if self._events is not None:
            self._wait_for_streams()
        stages = self.stages()
        out: dict[str, dict] = {}
        for job in self.jobs():
            tag = job["group"]
            tag = self.run_tags.get(tag, tag)
            if tag is None:
                continue
            rec = out.setdefault(tag, {"jobs": 0, "stage_ids": set(), "intervals": []})
            rec["jobs"] += 1
            rec["stage_ids"].update(job["stages"])
            if job["t0"] is not None:
                rec["intervals"].append((job["t0"], job["t1"] or job["t0"]))
        for rec in out.values():
            for f in ("tasks", "task_s", "shuffle_bytes", "input_bytes"):
                rec[f] = sum(stages[s][f] for s in rec["stage_ids"] if s in stages)
        return out

    def span_metrics(self, names) -> tuple[dict[str, tuple[float, str]], dict[str, dict]]:
        """``<name>.<field>`` for every span name (0 when not exercised),
        plus the raw per-tag counters for workload-specific ratios."""
        tags = self.per_tag()
        m = {f"{n}.{f}": 0.0 for n in names for f in SPAN_FIELDS}
        for name, tag, t0, t1 in self.spans:
            rec = tags.get(tag, {"jobs": 0, "intervals": [], "tasks": 0,
                                 "task_s": 0.0, "shuffle_bytes": 0})
            wall = t1 - t0
            m[f"{name}.wall_s"] += wall
            m[f"{name}.jobs"] += rec["jobs"]
            m[f"{name}.tasks"] += rec["tasks"]
            m[f"{name}.task_s"] += rec["task_s"]
            m[f"{name}.shuffle_bytes"] += rec["shuffle_bytes"]
            m[f"{name}.driver_s"] += wall - _covered(rec["intervals"], t0, t1)
        return {k: (v, SPAN_FIELDS[k.rsplit(".", 1)[1]]) for k, v in m.items()}, tags

    def streaming_metrics(self) -> dict[str, tuple[float, str]]:
        """Trigger count and summed trigger phases of every drain."""
        phases = {"planning_s": "queryPlanning", "add_batch_s": "addBatch",
                  "wal_commit_s": "walCommit"}
        prog = self._events.progress if self._events is not None else []
        m = {"streaming.triggers": (len(prog), "count")}
        for name, field in phases.items():
            m[f"streaming.{name}"] = (sum(d.get(field, 0) for d in prog) / 1000.0, "s")
        return m

    def close(self) -> None:
        if self._events is not None:
            self.spark.streams.removeListener(self._events)
            self._events = None
