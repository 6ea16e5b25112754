"""In-memory spans and counters around the benchmark's calls into the
engine's layers.

A span records name, layer, start, end, its parent span and the id of
the operation (one cycle or pass) it belongs to. Each span runs its
Spark work under a job group of its own, so on exit the span reads —
from the driver's status store, which Spark keeps with
``spark.ui.enabled=false`` — how many jobs it ran, the shuffle bytes its
completed stages wrote, and the task-time skew (max/median) of its
heaviest stage. Nothing is written until ``dump`` at the end of the run.

A disabled tracer's ``span`` does nothing but yield, so untraced runs
time the engine with no tracing work inside the timed region.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.op_id: str | None = None
        # seconds the tracer itself spent inside timed regions, per operation
        self.overhead: dict[str | None, float] = {}

    @contextmanager
    def op(self, op_id: str):
        """Mark the spans opened inside as one operation's."""
        prev, self.op_id = self.op_id, op_id
        try:
            yield
        finally:
            self.op_id = prev

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield {}
            return
        b0 = time.perf_counter()
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._seq,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "group": f"perfbench-span-{self._seq}",
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self._charge(rec["start"] - b0)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._stage_counters(rec["group"]))
            self.spans.append(rec)
            self._charge(time.perf_counter() - rec["end"])

    def _charge(self, seconds: float) -> None:
        self.overhead[self.op_id] = self.overhead.get(self.op_id, 0.0) + seconds

    def _stage_counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        shuffle_write = 0
        heaviest = None  # (executor run time, stage id, attempt)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                shuffle_write += sd.shuffleWriteBytes()
                key = (sd.executorRunTime(), sid, sd.attemptId())
                if heaviest is None or key > heaviest:
                    heaviest = key
        skew = 1.0
        if heaviest is not None:
            tasks = store.taskList(heaviest[1], heaviest[2], 100_000)
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(d.get())
            med = statistics.median(durs) if durs else 0
            if med > 0:
                skew = max(durs) / med
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "shuffle_write_bytes": int(shuffle_write),
            "task_skew": skew,
            "heaviest_stage_run_ms": heaviest[0] if heaviest else 0,
        }

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """Add a span for work timed before the tracer existed (session set-up)."""
        if self.enabled:
            self._seq += 1
            self.spans.append(
                {"id": self._seq, "name": name, "layer": layer, "parent": None, "op": "setup",
                 "start": start, "end": end, "jobs": 0, "stages": 0, "shuffle_write_bytes": 0,
                 "task_skew": 1.0, "heaviest_stage_run_ms": 0}
            )

    # -- reading the spans back -------------------------------------------------

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def inclusive(self, span: dict) -> dict:
        """The span's counters plus those of all its descendants; task skew
        is that of the heaviest stage anywhere below."""
        out = {k: span[k] for k in ("jobs", "stages", "shuffle_write_bytes")}
        skew_key = (span["heaviest_stage_run_ms"], span["task_skew"])
        for c in self.children(span):
            ci = self.inclusive(c)
            for k in out:
                out[k] += ci[k]
            skew_key = max(skew_key, (ci["heaviest_stage_run_ms"], ci["task_skew"]))
        out["heaviest_stage_run_ms"], out["task_skew"] = skew_key
        return out

    def self_seconds(self, span: dict) -> float:
        """Span duration minus the part its children cover; children of one
        span run one after another in this closed loop, so they never overlap."""
        covered = sum(c["end"] - c["start"] for c in self.children(span))
        return (span["end"] - span["start"]) - covered

    def self_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + self.self_seconds(s)
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {
                **{k: v for k, v in s.items() if k not in ("start", "end", "group")},
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "self_s": round(self.self_seconds(s), 6),
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)
